"""Scalar Column functions — the reference's F*/D*/M*/N* operator families
(SURVEY.md §2.8-§2.11) as pure, composable ``Column -> Column`` functions.

Every function stays JVM-side (built-in pyspark.sql.functions only): no
Python UDFs, so whole-stage codegen applies and the functions are safe in
100 TB hot paths. Reference citations point at the behavior being
re-expressed, not code being copied.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# String / regex (F1-F13)
# ---------------------------------------------------------------------------


def normalize_phone(c: Column) -> Column:
    """F1 — strip non-digits, validate VN mobile shape ``0\\d{9,10}``,
    else empty string. Ref: transformation_utils.py:23-49."""
    digits = F.regexp_replace(c, r"[^\d]", "")
    return F.when(digits.rlike(r"^0\d{9,10}$"), digits).otherwise(F.lit(""))


def normalize_email(c: Column) -> Column:
    """F2 — lower+trim, validate against an email regex, else empty.
    Ref: transformation_utils.py:52-76."""
    e = F.lower(F.trim(c))
    return F.when(
        e.rlike(r"^[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}$"), e
    ).otherwise(F.lit(""))


# Full entity table from the reference, which chains ~40 regexp_replace
# calls (transformation_utils.py:91-138) — incl. its nonstandard
# Vietnamese-accent names (&etilde; &itilde; &utilde; &ygrave;), kept
# verbatim for behavior parity. One combined chain of literal F.replace
# calls (no regex engine per entity) keeps the plan cheap.
_HTML_ENTITIES = {
    "&nbsp;": " ",
    "&quot;": '"',
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&#39;": "'",
    # Vietnamese lowercase - a
    "&aacute;": "á",
    "&agrave;": "à",
    "&atilde;": "ã",
    "&acirc;": "â",
    "&Acirc;": "Â",
    # Vietnamese lowercase - e
    "&eacute;": "é",
    "&egrave;": "è",
    "&etilde;": "ẽ",
    "&ecirc;": "ê",
    "&Ecirc;": "Ê",
    # Vietnamese lowercase - i
    "&iacute;": "í",
    "&igrave;": "ì",
    "&itilde;": "ĩ",
    # Vietnamese lowercase - o
    "&oacute;": "ó",
    "&ograve;": "ò",
    "&otilde;": "õ",
    "&ocirc;": "ô",
    "&Ocirc;": "Ô",
    # Vietnamese lowercase - u
    "&uacute;": "ú",
    "&ugrave;": "ù",
    "&utilde;": "ũ",
    # Vietnamese lowercase - y
    "&yacute;": "ý",
    "&ygrave;": "ỳ",
    # Vietnamese uppercase
    "&Aacute;": "Á",
    "&Agrave;": "À",
    "&Eacute;": "É",
    "&Egrave;": "È",
    "&Iacute;": "Í",
    "&Igrave;": "Ì",
    "&Oacute;": "Ó",
    "&Ograve;": "Ò",
    "&Uacute;": "Ú",
    "&Ugrave;": "Ù",
}


def strip_html(c: Column) -> Column:
    """F3 — drop tags, decode common entities (incl. numeric ``&#NNN;`` ->
    space-preserving best effort), collapse whitespace.
    Ref: transformation_utils.py:79-173."""
    out = F.regexp_replace(c, r"<br\s*/?>", " ")
    out = F.regexp_replace(out, r"<[^>]+>", " ")
    for ent, rep in _HTML_ENTITIES.items():
        out = F.replace(out, F.lit(ent), F.lit(rep))
    # numeric entities: not decodable without a UDF; normalize to space
    out = F.regexp_replace(out, r"&#\d+;", " ")
    return normalize_whitespace(out)


def normalize_whitespace(c: Column) -> Column:
    """F4 — trim + collapse runs of whitespace to one space.
    Ref: transformation_utils.py:176-197."""
    return F.regexp_replace(F.trim(c), r"\s+", " ")


def extract_numeric(c: Column) -> Column:
    """F5 — keep digits and dots, cast to double.
    Ref: transformation_utils.py:200-217."""
    return F.regexp_replace(c, r"[^\d.]", "").cast("double")


def recode_map(c: Column, mapping: dict[str, str], default: Column | None = None) -> Column:
    """F6 — dictionary recode via chained ``when``; the reference hardcodes
    ~13 Vietnamese->English city mappings (transformation_utils.py:220-254).
    For large dictionaries prefer a broadcast-join lookup table."""
    out = None
    t = F.trim(c)
    for k, v in mapping.items():
        cond = t == F.lit(k)
        out = F.when(cond, F.lit(v)) if out is None else out.when(cond, F.lit(v))
    if out is None:
        return default if default is not None else c
    return out.otherwise(default if default is not None else c)


VN_CITY_MAP = {
    "Hồ Chí Minh": "Ho Chi Minh",
    "TP Hồ Chí Minh": "Ho Chi Minh",
    "TPHCM": "Ho Chi Minh",
    "Sài Gòn": "Ho Chi Minh",
    "Hà Nội": "Ha Noi",
    "TP Hà Nội": "Ha Noi",
    "Đà Nẵng": "Da Nang",
    "TP Đà Nẵng": "Da Nang",
    "Cần Thơ": "Can Tho",
    "Hải Phòng": "Hai Phong",
    "Bình Dương": "Binh Duong",
    "Đồng Nai": "Dong Nai",
    "Khánh Hòa": "Khanh Hoa",
}


def parse_vnd_price(c: Column) -> Column:
    """F7 — parse '5.5 tỷ' -> 5.5e9, 'triệu' -> 1e6, 'nghìn'/'k' -> 1e3;
    bare numerics pass through. Ref: transformation_utils.py:257-288."""
    num = extract_numeric(c)
    lc = F.lower(c)
    return (
        F.when(lc.rlike(r"tỷ|ty\b"), num * F.lit(1e9))
        .when(lc.rlike(r"triệu|trieu"), num * F.lit(1e6))
        .when(lc.rlike(r"nghìn|nghin|\dk\b"), num * F.lit(1e3))
        .otherwise(num)
    )


AMENITY_PATTERNS = {
    "has_pool": r"(?i)pool|bể bơi|hồ bơi",
    "has_gym": r"(?i)gym|phòng tập",
    "has_parking": r"(?i)parking|bãi đỗ xe|chỗ đậu xe",
    "has_garden": r"(?i)garden|vườn|công viên",
    "has_security": r"(?i)security|an ninh|bảo vệ",
    "has_playground": r"(?i)playground|khu vui chơi|sân chơi",
}


def keyword_flags(c: Column, patterns: dict[str, str] = AMENITY_PATTERNS) -> dict[str, Column]:
    """F8 — boolean feature flags from regex over free text.
    Ref: transformation_utils.py:572-602."""
    return {name: c.rlike(pat) for name, pat in patterns.items()}


def split_geo(c: Column) -> tuple[Column, Column]:
    """F9 — 'lat,lng' string -> (lat, lng) doubles, null when malformed.
    Ref: transformation_utils.py:754-780."""
    ok = c.contains(",")
    lat = F.when(ok, F.split(c, ",").getItem(0).cast("double"))
    lng = F.when(ok, F.split(c, ",").getItem(1).cast("double"))
    return lat, lng


def strip_city_prefix(c: Column) -> Column:
    """F10 — remove 'TP. ' / 'Thành phố ' prefixes.
    Ref: gold_ml_etl.py:177-184."""
    return F.regexp_replace(c, r"^(TP\.?\s+|Thành phố\s+)", "")


def hash_id(*cols: Column) -> Column:
    """F11 — stable surrogate key: sha2(concat_ws('_', cols), 256).
    Ref: silver_etl_script.py:762-765; transformation_utils.py:412-431."""
    return F.sha2(F.concat_ws("_", *cols), 256)


def stable_bucket(c: Column, n_buckets: int) -> Column:
    """F12 (portable variant) — bucket from the first 8 hex chars of
    sha2-256, reproducible in any engine with sha256+conv."""
    h = F.conv(F.substring(F.sha2(c.cast("string"), 256), 1, 8), 16, 10).cast("long")
    return F.pmod(h, F.lit(n_buckets)).cast("int")


# ---------------------------------------------------------------------------
# Date / time (D1-D7)
# ---------------------------------------------------------------------------

_TS_FORMATS = ["yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd HH:mm:ss", "yyyy/MM/dd HH:mm:ss", "yyyy-MM-dd"]


def parse_timestamp_multi(c: Column, formats: list[str] = _TS_FORMATS) -> Column:
    """D1 — coalesce of to_timestamp over candidate formats.
    Ref: transformation_utils.py:381-409."""
    attempts = [F.try_to_timestamp(c, F.lit(fmt)) for fmt in formats]
    attempts.append(F.try_to_timestamp(c))
    return F.coalesce(*attempts)


def parse_date_dual(c: Column) -> Column:
    """D2 — value may be ISO date string OR unix-millis; dispatch on
    magnitude. Ref: silver_etl_script.py:364-389."""
    as_long = c.try_cast("long")
    return F.when(
        as_long > F.lit(10**12),
        F.timestamp_millis(as_long),
    ).otherwise(F.try_to_timestamp(c.cast("string"), F.lit("yyyy-MM-dd")))


def partition_cols(ts: Column) -> dict[str, Column]:
    """D4 — derive ingestion partition columns from a timestamp.
    Ref: silver_etl_script.py:743-746."""
    return {
        "ingestion_year": F.date_format(ts, "yyyy"),
        "ingestion_month": F.date_format(ts, "MM"),
        "ingestion_date": F.to_date(ts),
    }


def calendar_cols(ts: Column) -> dict[str, Column]:
    """D5 — year/quarter/month decomposition. Ref: gold_ml_etl.py:314-321."""
    return {"year": F.year(ts), "quarter": F.quarter(ts), "month": F.month(ts)}


# ---------------------------------------------------------------------------
# Math / conditional (M1-M9)
# ---------------------------------------------------------------------------


def log_guarded(c: Column) -> Column:
    """M1 — natural log, null unless value > 0. Ref: gold_ml_etl.py:209-222."""
    return F.when(c > 0, F.log(c))


def midpoint(lo: Column, hi: Column) -> Column:
    """M3 — (lo+hi)/2 with single-sided fallbacks.
    Ref: silver_etl_script.py:771-804."""
    return (
        F.when(lo.isNotNull() & hi.isNotNull(), (lo + hi) / F.lit(2.0))
        .when(lo.isNotNull(), lo)
        .otherwise(hi)
    )


def value_range(lo: Column, hi: Column) -> Column:
    """M4 — hi - lo when both present. Ref: silver_etl_script.py:807-828."""
    return F.when(lo.isNotNull() & hi.isNotNull(), hi - lo)


def safe_ratio(num: Column, den: Column) -> Column:
    """M5 — guarded division (null on zero/null denominator).
    Ref: gold_ml_etl.py:224-256."""
    return F.when(den.isNotNull() & (den != 0), num / den)


def completeness_score(cols: list[Column]) -> Column:
    """M6 — fraction of non-null fields. Ref: silver_etl_script.py:854-875."""
    filled = sum(F.when(c.isNotNull(), 1).otherwise(0) for c in cols)
    return (filled / F.lit(float(len(cols)))).cast("double")


def bucketize(c: Column, edges: list[float], labels: list[str]) -> Column:
    """M8 — chained-when bucketing; len(labels) == len(edges)+1.
    Ref: transformation_utils.py:434-456; gold_ml_etl.py:334-355."""
    assert len(labels) == len(edges) + 1
    out = F.when(c < F.lit(edges[0]), F.lit(labels[0]))
    for i in range(1, len(edges)):
        out = out.when(c < F.lit(edges[i]), F.lit(labels[i]))
    return out.otherwise(F.lit(labels[-1]))


def impute_cascade(c: Column, *fallbacks: Column) -> tuple[Column, Column]:
    """M9 — coalesce cascade + boolean imputed flag.
    Ref: data_enhancement.py:86-143."""
    imputed = F.coalesce(c, *fallbacks)
    return imputed, c.isNull() & imputed.isNotNull()


def hectare_to_m2(c: Column) -> Column:
    """M7 — hectares -> m². Ref: silver_etl_script.py:214-219."""
    return c * F.lit(10000.0)


# ---------------------------------------------------------------------------
# Array / struct / JSON (N1-N11)
# ---------------------------------------------------------------------------


def extract_struct_field(arr: Column, field: str) -> Column:
    """N1 — transform(arr, x -> x.field). Ref: silver_etl_script.py:226-240."""
    return F.transform(arr, lambda x: x.getField(field))


def distinct_double_transform(arr: Column, outer: str, inner: str) -> Column:
    """N3 — array_distinct(flatten(transform(a, x -> transform(x.outer,
    y -> y.inner)))). Ref: silver_etl_script.py:281-296."""
    return F.array_distinct(
        F.flatten(F.transform(arr, lambda x: F.transform(x.getField(outer), lambda y: y.getField(inner))))
    )


def first_last(arr: Column) -> tuple[Column, Column]:
    """N4 — element_at(arr, 1) / element_at(arr, -1), null-safe on empties.
    Ref: transformation_utils.py:605-630."""
    nonempty = F.size(arr) > 0
    return (
        F.when(nonempty, F.element_at(arr, 1)),
        F.when(nonempty, F.element_at(arr, -1)),
    )


def geojson_lon_lat(coords: Column) -> tuple[Column, Column]:
    """N5 — GeoJSON [lon, lat] positional array -> columns; guarded by
    size >= 2. Ref: transformation_utils.py:783-809."""
    ok = F.size(coords) >= 2
    lon = F.when(ok, F.element_at(coords, 1).cast("double"))
    lat = F.when(ok, F.element_at(coords, 2).cast("double"))
    return lon, lat


def indexed_nested_name(c: Column) -> Column:
    """N6 — col.getItem(0).getField('name') over translation arrays.
    Ref: transformation_utils.py:703-751."""
    return c.getItem(0).getField("name")


def coerce_string_array(c: Column) -> Column:
    """N9 — string column that may hold a JSON array or a bare scalar ->
    array<string>. Ref: silver_etl_script.py:460-475."""
    from pyspark.sql.types import ArrayType, StringType

    return F.when(
        F.trim(c).startswith("["), F.from_json(c, ArrayType(StringType()))
    ).otherwise(F.array(c))


def struct_array_to_strings(arr: Column, candidates: tuple[str, ...] = ("name", "value", "key")) -> Column:
    """N11 — array<struct> -> array<string> by extracting the first present
    candidate field. Callers introspect the schema to pick the field; this
    helper applies the chosen extraction. Ref: silver_etl_script.py:413-449."""
    first = candidates[0]
    return F.transform(arr, lambda x: x.getField(first).cast("string"))
