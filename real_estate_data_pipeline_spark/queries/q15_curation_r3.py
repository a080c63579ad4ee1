"""Split from queries.py lines 4895-8407 (mechanical move, round 13).

Registers this family's catalog entries on import; see queries/__init__.py
for the ordered family list that reconstructs the original catalog order.
"""

from __future__ import annotations

from ._registry import (
    CATALOG,
    DEC,
    F,
    Window,
    X,
    _scratch,
    dedup,
    dsum,
    dsum_expr,
    os,
    register,
    t,
    text,
    tok_arr,
)
from .q09_llm_dedup_text_sim import _HASH01_SQL

# ===========================================================================
# Corpus curation round 3: decontamination, TF-IDF, quantile banding,
# cohort retention
# ===========================================================================

# word-3-gram SQL matching ops/dedup.shingles_from_tokens(tk, 3):
# cnt = greatest(len-2, 1); gram i joins tokens i..i+2 (slice clamps the
# tail exactly like try_element_at skips it); '' grams filtered
_GRAMS3_SQL = (
    "list_filter(list_distinct(list_transform("
    "range(1, greatest(len(tk) - 2, 1) + 1), "
    "i -> array_to_string(tk[i:i+2], ' '))), g -> g <> '')"
)

register(
    "decon_eval_overlap",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, {_GRAMS3_SQL} AS gs,
             {_HASH01_SQL.format(key="doc_id || 'decon'")} AS u
      FROM tk
    ),
    tr AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE u < 0.8),
    ev AS (SELECT doc_id, len(gs) AS ng, unnest(gs) AS gram FROM g WHERE u >= 0.8)
    SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap,
           CAST(COUNT(*) AS DOUBLE) / CAST(MAX(ev.ng) AS DOUBLE) AS contam_frac
    FROM ev JOIN tr ON ev.gram = tr.gram
    GROUP BY ev.doc_id
    """,
    bench=True,
)


def _decon(spark, sf_dir):
    """Train/eval decontamination by exact 3-gram overlap (the
    GPT-3/Dolma primitive): eval docs sharing any word 3-gram with the
    train split, with the shared-gram count and fraction. The split is
    the deterministic sha2 hash draw (ops/sampling), so both engines
    carve identical train/eval sets."""
    from ..ops.sampling import hash_uniform01

    d = t(spark, sf_dir, "documents")
    u = hash_uniform01(F.col("doc_id"), "decon")
    train = d.filter(u < 0.8)
    ev = d.filter(u >= 0.8)
    return dedup.contamination_report(train, ev, "doc_id", "text", shingle_n=3)


CATALOG["decon_eval_overlap"].fn = _decon

register(
    "decon_reuse_gram_index",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, {_GRAMS3_SQL} AS gs,
             {_HASH01_SQL.format(key="doc_id || 'decon'")} AS u
      FROM tk
    ),
    tr AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE u < 0.8),
    ev AS (SELECT doc_id, len(gs) AS ng, unnest(gs) AS gram FROM g WHERE u >= 0.8)
    SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap,
           CAST(COUNT(*) AS DOUBLE) / CAST(MAX(ev.ng) AS DOUBLE) AS contam_frac
    FROM ev JOIN tr ON ev.gram = tr.gram
    GROUP BY ev.doc_id
    """,
    # not bench-flagged: the self-contained gate entry rebuilds its gram
    # index every run (build + parquet write + query), which is the
    # WRONG number for the reuse path — tools_scale_probe's
    # decon_amortization isolates the real repeat cost (4.5x faster
    # than rebuild at 10x train, fixed eval)
)


def _decon_reuse(spark, sf_dir):
    """Decontamination with the REUSABLE precomputed gram index (the
    100 TB shape): the train-side distinct gram set is built once with
    train_gram_set, persisted to parquet, re-read, and passed to
    contamination_report — which then also broadcast-prefilters eval
    grams on the bounded pmod(xxhash64, m) position set so non-matching
    grams never enter the join shuffle. Same oracle as
    decon_eval_overlap: the precomputed + prefiltered path must be
    value-identical to the recompute-every-time path."""
    import tempfile

    from ..ops.sampling import hash_uniform01

    d = t(spark, sf_dir, "documents")
    u = hash_uniform01(F.col("doc_id"), "decon")
    train = d.filter(u < 0.8)
    ev = d.filter(u >= 0.8)
    # fixed scratch path (not mkdtemp-per-run): repeated driver/bench
    # invocations overwrite instead of accumulating temp dirs. hashed
    # index: 8-byte xxhash64 keys in the store AND in the join shuffle
    # (3-5x smaller than gram strings; collision odds are the 64-bit
    # birthday bound — the oracle's exact string join proving the
    # hashed path value-identical on this corpus).
    idx_path = _scratch("redp_gram_index")
    dedup.train_gram_set(train, "text", shingle_n=3, hashed=True).write.mode(
        "overwrite"
    ).parquet(idx_path)
    grams = spark.read.parquet(idx_path)
    return dedup.contamination_report(
        None, ev, "doc_id", "text", shingle_n=3,
        train_grams=grams, prefilter_mod=1 << 22,
    )


CATALOG["decon_reuse_gram_index"].fn = _decon_reuse

register(
    "doc_tfidf_top3",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE term <> '' GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS nd FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf AS DOUBLE)
               * round(ln((nd + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
      FROM tf JOIN dfreq ON tf.term = dfreq.term, n
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)


def _dtfidf(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (idf ln rounded to 6 dp per the
    exactness rules; term-keyed join of two partial aggregates)."""
    d = t(spark, sf_dir, "documents")
    return text.tfidf_top_terms(d, "doc_id", "text", k=3)


CATALOG["doc_tfidf_top3"].fn = _dtfidf

register(
    "doc_len_quantile_band",
    oracle="""
    WITH nt AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    thr AS (
      SELECT quantile_cont(n_tokens, 0.05) AS lo, quantile_cont(n_tokens, 0.95) AS hi
      FROM nt
    )
    SELECT doc_id, n_tokens FROM nt, thr
    WHERE n_tokens >= lo AND n_tokens <= hi
    """,
)


def _dlenq(spark, sf_dir):
    """Length-quantile banding (drop the shortest/longest 5% — a
    standard corpus quality filter): exact interpolated percentiles
    (both engines use the (n-1)*p linear-interpolation definition)
    broadcast as a one-row scalar frame; the filter itself is a
    scan-side predicate."""
    d = t(spark, sf_dir, "documents")
    nt = d.select(
        "doc_id", F.size(dedup.norm_tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    thr = nt.agg(
        F.percentile("n_tokens", 0.05).alias("lo"),
        F.percentile("n_tokens", 0.95).alias("hi"),
    )
    return (
        nt.crossJoin(F.broadcast(thr))
        .filter((F.col("n_tokens") >= F.col("lo")) & (F.col("n_tokens") <= F.col("hi")))
        .select("doc_id", "n_tokens")
    )


CATALOG["doc_len_quantile_band"].fn = _dlenq

register(
    "f_parse_bundle",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_mktsegment, c_name,
             lpad(CAST(c_custkey AS VARCHAR), 10, '7') AS digits,
             c_custkey % 3 AS m3
      FROM customer
    ),
    syn AS (
      SELECT c_custkey, c_mktsegment,
        CASE WHEN m3 = 0 THEN '0' || substr(digits, 1, 9)
             WHEN m3 = 1 THEN '0' || substr(digits, 1, 10)
             ELSE '1' || substr(digits, 1, 9) END AS raw_phone,
        CASE WHEN m3 = 0 THEN CAST(c_custkey % 97 AS VARCHAR) || '.'
                              || CAST(c_custkey % 10 AS VARCHAR) || ' tỷ'
             WHEN m3 = 1 THEN CAST(c_custkey % 97 AS VARCHAR) || ' triệu'
             ELSE CAST(c_custkey % 9000 AS VARCHAR) END AS raw_price,
        CASE WHEN c_custkey % 2 = 0 THEN 'TP. ' || c_name
             ELSE c_name END AS raw_name,
        CAST(c_custkey % 90 AS VARCHAR) || '.' || CAST(c_custkey % 100 AS VARCHAR)
          || ',' || CAST(c_custkey % 180 AS VARCHAR) AS raw_geo
      FROM base
    )
    SELECT c_custkey,
      CASE WHEN regexp_matches(regexp_replace(raw_phone, '[^0-9]', '', 'g'),
                               '^0[0-9]{9,10}$')
           THEN regexp_replace(raw_phone, '[^0-9]', '', 'g')
           ELSE '' END AS phone_norm,
      CASE WHEN regexp_matches(lower(raw_price), 'tỷ|ty\\b')
             THEN CAST(regexp_replace(raw_price, '[^0-9.]', '', 'g') AS DOUBLE) * 1e9
           WHEN regexp_matches(lower(raw_price), 'triệu|trieu')
             THEN CAST(regexp_replace(raw_price, '[^0-9.]', '', 'g') AS DOUBLE) * 1e6
           WHEN regexp_matches(lower(raw_price), 'nghìn|nghin|[0-9]k\\b')
             THEN CAST(regexp_replace(raw_price, '[^0-9.]', '', 'g') AS DOUBLE) * 1e3
           ELSE CAST(regexp_replace(raw_price, '[^0-9.]', '', 'g') AS DOUBLE)
      END AS price_vnd,
      regexp_matches(c_mktsegment, '(?i)auto|house') AS f_special,
      regexp_matches(c_mktsegment, '(?i)build|furn') AS f_final,
      regexp_replace(raw_name, '^(TP\\.?\\s+|Thành phố\\s+)', '') AS name_clean,
      CAST(string_split(raw_geo, ',')[1] AS DOUBLE) AS lat,
      CAST(string_split(raw_geo, ',')[2] AS DOUBLE) AS lng
    FROM syn
    """,
)


def _fbundle(spark, sf_dir):
    """F1/F7/F8/F9/F10 in one driver-checkable pass: phone
    normalization, VND price parsing, keyword flags, geo split and
    prefix cleanup over inputs synthesized from customer columns with
    INTEGER arithmetic only (float->string formatting is the one place
    two engines may legitimately disagree, so the synthesis never
    formats a double). Every parse function is the JVM-side Column
    expression from ops/functions; the oracle re-implements the same
    regex semantics in DuckDB."""
    c = t(spark, sf_dir, "customer")
    digits = F.lpad(F.col("c_custkey").cast("string"), 10, "7")
    m3 = F.col("c_custkey") % 3
    raw_phone = (
        F.when(m3 == 0, F.concat(F.lit("0"), F.substring(digits, 1, 9)))
        .when(m3 == 1, F.concat(F.lit("0"), F.substring(digits, 1, 10)))
        .otherwise(F.concat(F.lit("1"), F.substring(digits, 1, 9)))
    )
    raw_price = (
        F.when(
            m3 == 0,
            F.concat(
                (F.col("c_custkey") % 97).cast("string"),
                F.lit("."),
                (F.col("c_custkey") % 10).cast("string"),
                F.lit(" tỷ"),
            ),
        )
        .when(m3 == 1, F.concat((F.col("c_custkey") % 97).cast("string"), F.lit(" triệu")))
        .otherwise((F.col("c_custkey") % 9000).cast("string"))
    )
    raw_name = F.when(
        F.col("c_custkey") % 2 == 0, F.concat(F.lit("TP. "), F.col("c_name"))
    ).otherwise(F.col("c_name"))
    raw_geo = F.concat(
        (F.col("c_custkey") % 90).cast("string"),
        F.lit("."),
        (F.col("c_custkey") % 100).cast("string"),
        F.lit(","),
        (F.col("c_custkey") % 180).cast("string"),
    )
    flags = X.keyword_flags(
        F.col("c_mktsegment"), {"f_special": r"(?i)auto|house", "f_final": r"(?i)build|furn"}
    )
    lat, lng = X.split_geo(raw_geo)
    return c.select(
        "c_custkey",
        X.normalize_phone(raw_phone).alias("phone_norm"),
        X.parse_vnd_price(raw_price).alias("price_vnd"),
        flags["f_special"].alias("f_special"),
        flags["f_final"].alias("f_final"),
        X.strip_city_prefix(raw_name).alias("name_clean"),
        lat.alias("lat"),
        lng.alias("lng"),
    )


CATALOG["f_parse_bundle"].fn = _fbundle

# F3 oracle: the same entity chain strip_html applies, generated from
# the SAME table (ops/functions._HTML_ENTITIES) so the two stay in sync
def _html_oracle_sql() -> str:
    s = "CASE WHEN p_partkey % 6 = 0 THEN '&aacute;' WHEN p_partkey % 6 = 1 THEN '&ecirc;' WHEN p_partkey % 6 = 2 THEN '&ugrave;' WHEN p_partkey % 6 = 3 THEN '&amp;' WHEN p_partkey % 6 = 4 THEN '&dstroke;' ELSE '&#233;' END"
    expr = f"'<b>' || p_name || '</b> ' || {s} || ' <br/> ' || p_brand || ' &nbsp;tail'"
    expr = f"regexp_replace({expr}, '<br\\s*/?>', ' ', 'g')"
    expr = f"regexp_replace({expr}, '<[^>]+>', ' ', 'g')"
    for ent, rep in X._HTML_ENTITIES.items():
        expr = f"replace({expr}, '{ent}', '{rep.replace(chr(39), chr(39) * 2)}')"
    expr = f"regexp_replace({expr}, '&#[0-9]+;', ' ', 'g')"
    expr = f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"
    return f"SELECT p_partkey, {expr} AS clean FROM part"


register("f_html_clean", oracle=_html_oracle_sql())


def _fhtml(spark, sf_dir):
    """F3 HTML strip + full entity decode, driver-checkable: part names
    wrapped in tags with a rotating entity (incl. Vietnamese-accent and
    numeric ones). The oracle SQL is GENERATED from the same
    _HTML_ENTITIES table the Spark expression uses, so the ~38-entry
    chain cannot drift between engines."""
    p = t(spark, sf_dir, "part")
    k = F.col("p_partkey") % 6
    ent = (
        F.when(k == 0, F.lit("&aacute;"))
        .when(k == 1, F.lit("&ecirc;"))
        .when(k == 2, F.lit("&ugrave;"))
        .when(k == 3, F.lit("&amp;"))
        .when(k == 4, F.lit("&dstroke;"))
        .otherwise(F.lit("&#233;"))
    )
    raw = F.concat(
        F.lit("<b>"), F.col("p_name"), F.lit("</b> "), ent, F.lit(" <br/> "),
        F.col("p_brand"), F.lit(" &nbsp;tail"),
    )
    return p.select("p_partkey", X.strip_html(raw).alias("clean"))


CATALOG["f_html_clean"].fn = _fhtml

register(
    "n_nested_bundle",
    oracle="""
    WITH syn AS (
      SELECT o_orderkey,
        [struct_pack(xs := [o_orderkey % 7, o_orderkey % 7]),
         struct_pack(xs := [o_orderkey % 5])] AS lvl2,
        [struct_pack(name := 'vi-' || CAST(o_orderkey % 3 AS VARCHAR)),
         struct_pack(name := 'en-' || CAST(o_orderkey % 2 AS VARCHAR))] AS trans,
        [CAST(o_orderkey % 360 - 180 AS DOUBLE) / 2.0,
         CAST(o_orderkey % 180 - 90 AS DOUBLE) / 2.0] AS coords
      FROM orders
    )
    SELECT o_orderkey,
      array_to_string(list_transform(trans, x -> x.name), ',') AS names_n1,
      array_to_string(list_sort(list_distinct(flatten(
          list_transform(lvl2, x -> x.xs)))), ',') AS vals_n3,
      coords[1] AS lon, coords[2] AS lat,
      trans[1].name AS first_name_n6,
      struct_pack(src := 'synthetic', ver := CAST(o_orderkey % 9 AS VARCHAR)).ver
        AS meta_ver_n10,
      array_to_string(list_transform(trans, x -> CAST(x.name AS VARCHAR)), '|')
        AS names_n11
    FROM syn
    """,
)


def _nnested(spark, sf_dir):
    """N1/N2/N3/N5/N6 driver-checkable over synthesized nested
    array<struct> values (the testdata has no nested columns, so both
    engines build identical structures from o_orderkey and then
    exercise the SAME traversal semantics: per-element field extract,
    two-level flatten+distinct, positional GeoJSON split, indexed
    nested field). Array outputs serialize through concat_ws/sort so
    the compare is order-stable."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    lvl2 = F.array(
        F.struct(F.array((k % 7), (k % 7)).alias("xs")),
        F.struct(F.array((k % 5)).alias("xs")),
    )
    trans = F.array(
        F.struct(F.concat(F.lit("vi-"), (k % 3).cast("string")).alias("name")),
        F.struct(F.concat(F.lit("en-"), (k % 2).cast("string")).alias("name")),
    )
    coords = F.array(
        (k % 360 - 180).cast("double") / F.lit(2.0),
        (k % 180 - 90).cast("double") / F.lit(2.0),
    )
    lon, lat = X.geojson_lon_lat(coords)
    return o.select(
        "o_orderkey",
        F.concat_ws(",", X.extract_struct_field(trans, "name")).alias("names_n1"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.array_distinct(F.flatten(X.extract_struct_field(lvl2, "xs")))
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("vals_n3"),
        lon.alias("lon"),
        lat.alias("lat"),
        X.indexed_nested_name(trans).alias("first_name_n6"),
        # N10 struct literal + field access; N11 struct-array -> strings
        F.struct(
            F.lit("synthetic").alias("src"), (k % 9).cast("string").alias("ver")
        )["ver"].alias("meta_ver_n10"),
        F.concat_ws("|", X.struct_array_to_strings(trans, ("name",))).alias("names_n11"),
    )


CATALOG["n_nested_bundle"].fn = _nnested

register(
    "m_unit_ratio_bundle",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_size IS NULL OR p_size = 0 THEN NULL
                ELSE p_retailprice / p_size END AS price_per_size,
           CAST(p_size AS DOUBLE) * 10000.0 AS size_m2,
           CASE WHEN p_size % 4 = 0 THEN NULL
                ELSE p_retailprice / (p_size % 4) END AS guarded_ratio
    FROM part
    """,
)


def _munit(spark, sf_dir):
    """M5 guarded ratio + M7 hectare->m2 conversion, driver-checkable:
    price-per-size with a null-on-zero guard (the second ratio forces
    the zero branch on every fourth size) and the unit conversion as a
    pure scalar multiply."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        X.safe_ratio(F.col("p_retailprice"), F.col("p_size")).alias("price_per_size"),
        X.hectare_to_m2(F.col("p_size").cast("double")).alias("size_m2"),
        X.safe_ratio(F.col("p_retailprice"), F.col("p_size") % 4).alias("guarded_ratio"),
    )


CATALOG["m_unit_ratio_bundle"].fn = _munit

register(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)


def _dskewagg(spark, sf_dir):
    """Two-phase salted aggregation vs a plain GROUP BY oracle: the
    result is IDENTICAL because every aggregate is algebraic and the
    money sum goes through exact decimal (order-independent) — which is
    precisely why the mitigation is safe to drop into a skewed
    pipeline. 3 group keys over 600k rows is the hot-key shape."""
    from ..ops.skew import salted_aggregate

    li = t(spark, sf_dir, "lineitem").withColumn(
        "__price_dec", F.col("l_extendedprice").cast(DEC)
    )
    out = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "revenue": ("__price_dec", "sum"),
            "n": ("*", "count"),
            "max_qty": ("l_quantity", "max"),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("revenue").cast("double").alias("revenue"),
        F.col("n").cast("bigint").alias("n"),
        "max_qty",
    )


CATALOG["skew_salted_agg"].fn = _dskewagg

register(
    "skew_salted_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)


def _dskewjoin(spark, sf_dir):
    """Salted fact-dim equi-join vs the plain join oracle: salting
    replicates the dim 16x and joins on (key, salt), so no reducer owns
    a hot key — and the joined row multiset is unchanged, which the
    decimal-exact rollup proves."""
    from ..ops.skew import salted_join

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    joined = salted_join(o, c, on="o_custkey", n_salts=16)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("orders"),
        dsum("o_totalprice", "total"),
    )


CATALOG["skew_salted_join"].fn = _dskewjoin

register(
    "f_stable_bucket_histogram",
    oracle="""
    SELECT ('0x' || substr(sha256(CAST(c_custkey AS VARCHAR)), 1, 8))::UBIGINT % 8
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer GROUP BY bucket
    """,
)


def _dbucket(spark, sf_dir):
    """F12 portable hash-bucket (sha2-based stable_bucket) histogram:
    the bucket assignment reproduces bit-identically in any engine with
    sha256, unlike murmur3 — this is the cross-engine feature-hashing
    primitive. Output proves the full assignment, not just counts."""
    c = t(spark, sf_dir, "customer")
    return (
        c.groupBy(X.stable_bucket(F.col("c_custkey"), 8).cast("bigint").alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )


CATALOG["f_stable_bucket_histogram"].fn = _dbucket

register("mm_ppm_ahash_groups", oracle=None)


def _dppm(spark, sf_dir):
    """End-to-end REAL image dedup (rows-only): render a P6/PPM image
    per document (deterministic gradient keyed by doc_id % 16, so ~16
    visual classes exist), decode real pixels via mapInPandas, resize,
    and group by the 64-bit average-hash — the perceptual-hash dedup
    loop a multimodal corpus runs, with actual pixel math instead of
    the compressed-codec stub."""
    import numpy as np

    from ..ops import multimodal as MM

    d = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("media_id"),
        (F.col("doc_id") % 16).cast("int").alias("__cls"),
    )

    def render(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for cls in pdf["__cls"]:
                w = h = 24
                y, x = np.mgrid[0:h, 0:w]
                px = np.stack(
                    [
                        (x * 255 // (w - 1)),
                        (y * 255 // (h - 1)),
                        ((x * int(cls) + y) % 256),
                    ],
                    axis=2,
                ).astype(np.uint8)
                payloads.append(MM.encode_ppm(px))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": "image/ppm",
                    "payload": payloads,
                    "width": None,
                    "height": None,
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    media = d.mapInPandas(render, MM.MEDIA_SCHEMA)
    info = MM.decode_ppm_info(MM.resize_ppm(media, max_side=16))
    return (
        info.groupBy("ahash")
        .agg(F.count("*").cast("bigint").alias("members"), F.min("media_id").alias("rep_id"))
        .filter(F.col("members") > 1)
    )


CATALOG["mm_ppm_ahash_groups"].fn = _dppm

register("mm_png_ahash_groups", oracle=None)


def _dpng(spark, sf_dir):
    """End-to-end COMPRESSED-codec image dedup (rows-only): render the
    same deterministic gradient classes as mm_ppm_ahash_groups but
    encoded as real 8-bit RGB PNG (stdlib zlib + scanline filters, no
    PIL — ops/multimodal.parse_png reconstructs all five PNG filters),
    decode real pixels via mapInPandas, resize, group by the 64-bit
    average-hash. Unit tests prove the PNG render is pixel-exact vs the
    PPM render of the same gradient, so the two gate entries must find
    the same duplicate structure."""
    import numpy as np

    from ..ops import multimodal as MM

    d = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("media_id"),
        (F.col("doc_id") % 16).cast("int").alias("__cls"),
    )

    def render(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for cls in pdf["__cls"]:
                w = h = 24
                y, x = np.mgrid[0:h, 0:w]
                px = np.stack(
                    [
                        (x * 255 // (w - 1)),
                        (y * 255 // (h - 1)),
                        ((x * int(cls) + y) % 256),
                    ],
                    axis=2,
                ).astype(np.uint8)
                # filter 2 (Up) exercises a non-trivial decode lane
                payloads.append(MM.encode_png(px, filter_type=2))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": "image/png",
                    "payload": payloads,
                    "width": None,
                    "height": None,
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    media = d.mapInPandas(render, MM.MEDIA_SCHEMA)
    info = MM.decode_png_info(MM.resize_png(media, max_side=16))
    return (
        info.groupBy("ahash")
        .agg(F.count("*").cast("bigint").alias("members"), F.min("media_id").alias("rep_id"))
        .filter(F.col("members") > 1)
    )


CATALOG["mm_png_ahash_groups"].fn = _dpng

register("mm_jpeg_ahash_groups", oracle=None)


def _djpeg(spark, sf_dir):
    """End-to-end DCT-codec image dedup (rows-only): the SAME
    deterministic gradient classes as the PPM/PNG twins, but encoded as
    real baseline JPEG (ops/jpeg.py — pure numpy/stdlib DCT + canonical
    Huffman, no libjpeg), decoded back through the full marker/entropy/
    IDCT pipeline via mapInPandas, resized through a decode->resample->
    re-encode pass, and grouped by the 64-bit average-hash. JPEG is
    LOSSY, so this is the honest test of the perceptual-dedup loop:
    identical source pixels produce identical payloads (the encoder is
    deterministic), so each gradient class still collapses to one hash
    group despite quantization noise. Closes the codec family: raw
    (PPM), lossless-compressed (PNG), lossy-compressed (JPEG)."""
    import numpy as np

    from ..ops import jpeg as J
    from ..ops import multimodal as MM

    d = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("media_id"),
        (F.col("doc_id") % 16).cast("int").alias("__cls"),
    )

    def render(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for cls in pdf["__cls"]:
                w = h = 24
                y, x = np.mgrid[0:h, 0:w]
                px = np.stack(
                    [
                        (x * 255 // (w - 1)),
                        (y * 255 // (h - 1)),
                        ((x * int(cls) + y) % 256),
                    ],
                    axis=2,
                ).astype(np.uint8)
                payloads.append(J.encode_jpeg(px, quality=95))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": "image/jpeg",
                    "payload": payloads,
                    "width": None,
                    "height": None,
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    media = d.mapInPandas(render, MM.MEDIA_SCHEMA)
    info = MM.decode_jpeg_info(MM.resize_jpeg(media, max_side=16))
    return (
        info.groupBy("ahash")
        .agg(F.count("*").cast("bigint").alias("members"), F.min("media_id").alias("rep_id"))
        .filter(F.col("members") > 1)
    )


CATALOG["mm_jpeg_ahash_groups"].fn = _djpeg

register(
    "mm_wav_feature_oracle",
    # the FIRST value-oracled multimodal entry: PCM16 is lossless
    # integer data, so the oracle can recompute the features of the
    # analytically-defined waveform (s_i = (i*k) % 2001 - 1000, k from
    # doc_id) WITHOUT ever seeing bytes — while the Spark side only
    # gets them by genuinely encoding RIFF/WAVE and decoding it back
    # (ops/audio.py). A hash match proves the codec round-trips exactly.
    oracle="""
    WITH g AS (
      SELECT doc_id, (doc_id % 8 + 3) * 7 AS k FROM documents
    ),
    s AS (
      SELECT doc_id, i, ((i * k) % 2001) - 1000 AS v
      FROM g, (SELECT unnest(range(0, 2000)) AS i) u
    ),
    sflag AS (
      SELECT doc_id, v,
             LEAD(v) OVER (PARTITION BY doc_id ORDER BY i) AS nv
      FROM s
    ),
    agg AS (
      SELECT doc_id,
             CAST(SUM(v * v) AS BIGINT) AS sumsq,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN v * nv < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zc
      FROM sflag GROUP BY doc_id
    )
    SELECT doc_id, 8000 AS sample_rate, n AS n_samples,
           round(n * 1000.0 / 8000, 6) AS duration_ms,
           round(sqrt(CAST(sumsq AS DOUBLE) / n), 6) AS rms,
           zc AS zero_crossings
    FROM agg ORDER BY doc_id
    """,
)


def _dwav(spark, sf_dir):
    """Audio decode VALUE-VERIFIED end to end: per document, synthesize
    a deterministic integer sawtooth, encode it as real RIFF/WAVE PCM16
    bytes, decode those bytes back through the full RIFF chunk walk
    (ops/audio.decode_wav_info, mapInPandas), and emit integer-exact
    features — which must hash-match an oracle that re-derives the
    same features purely analytically from doc_id. Any codec bug
    (header math, chunk alignment, byte order, sample framing) breaks
    the hash."""
    import numpy as np

    from ..ops import audio as AU
    from ..ops import multimodal as MM

    d = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("media_id"),
        ((F.col("doc_id") % 8 + 3) * 7).cast("long").alias("__k"),
    )

    def render(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for k in pdf["__k"]:
                i = np.arange(2000, dtype=np.int64)
                v = ((i * int(k)) % 2001 - 1000).astype(np.int16)
                payloads.append(AU.encode_wav(v, 8000))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": "audio/wav",
                    "payload": payloads,
                    "width": None,
                    "height": None,
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    media = d.mapInPandas(render, MM.MEDIA_SCHEMA)
    info = AU.decode_wav_info(media)
    return info.select(
        F.col("media_id").alias("doc_id"),
        "sample_rate",
        "n_samples",
        "duration_ms",
        "rms",
        "zero_crossings",
    ).orderBy("doc_id")


CATALOG["mm_wav_feature_oracle"].fn = _dwav

register("mm_video_frame_dedup", oracle=None)


def _dvideo(spark, sf_dir):
    """The VIDEO-pipeline primitive end to end (rows-only like its
    codec twins): per document, build a 4-frame clip (frames are
    deterministic gradients; frame 2 repeats frame 0 — planted
    intra-clip duplication) in a MIXED-container corpus — classes cycle
    through all THREE container lanes: motion-JPEG (per-frame DCT
    decode), uncompressed YUV4MPEG2 (raw planar decode), and
    uncompressed RIFF-AVI (bottom-up DIB decode) — sample every 2nd
    frame via the container index, and report per-clip duplicate-frame
    groups: the shot-boundary/static-scene detection shape,
    container-agnostic the way a real curation pipeline must be.
    Classes share payloads, so group structure is deterministic."""
    import numpy as np

    from ..ops import multimodal as MM

    d = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("media_id"),
        (F.col("doc_id") % 8).cast("int").alias("__cls"),
    )

    def render(batches):
        import pandas as pd

        for pdf in batches:
            payloads, mtypes = [], []
            for cls in pdf["__cls"]:
                frames = []
                for fi in (0, 1, 0, 3):  # frame 2 repeats frame 0
                    w = h = 16
                    y, x = np.mgrid[0:h, 0:w]
                    frames.append(
                        np.stack(
                            [
                                (x * 255 // (w - 1)),
                                (y * (int(cls) + 1) * 17) % 256,
                                ((x + y) * (fi + 1)) % 256,
                            ],
                            axis=2,
                        ).astype(np.uint8)
                    )
                if int(cls) % 3 == 1:
                    payloads.append(MM.encode_y4m(frames, fps=4.0, colorspace="C444"))
                    mtypes.append("video/x-yuv4mpeg")
                elif int(cls) % 3 == 2:
                    payloads.append(MM.encode_avi(frames, fps=4.0))
                    mtypes.append("video/x-msvideo")
                else:
                    payloads.append(MM.encode_mjpeg(frames, fps=4.0))
                    mtypes.append("video/x-mjpeg")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": mtypes,
                    "payload": payloads,
                    "width": None,
                    "height": None,
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    media = d.mapInPandas(render, MM.MEDIA_SCHEMA)
    frames = MM.sample_video_frames(media, every_n=2)  # frames 0 and 2
    return (
        frames.groupBy("media_id", "ahash")
        .agg(
            F.count("*").cast("bigint").alias("dup_frames"),
            F.min("frame_idx").alias("first_idx"),
        )
        .filter(F.col("dup_frames") > 1)
        .orderBy("media_id")
    )


CATALOG["mm_video_frame_dedup"].fn = _dvideo

# Shared Naive-Bayes train+score CTE chain (through `scored`): consumed
# by the confusion-matrix eval AND the margin-calibration report so the
# model pipeline is single-sourced in SQL exactly as _nb_frames
# single-sources it in Spark.
_NB_CTES = f"""d AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS tk,
             {_HASH01_SQL.format(key="doc_id || 'nb'")} AS u
      FROM documents
    ),
    train_docs AS (SELECT * FROM d WHERE u < 0.7),
    test_docs AS (SELECT * FROM d WHERE u >= 0.7),
    ttok AS (SELECT lang, unnest(tk) AS tok FROM train_docs),
    langs AS (SELECT DISTINCT lang FROM train_docs),
    c AS (SELECT lang, tok, COUNT(*) AS c FROM ttok GROUP BY lang, tok),
    tl AS (SELECT lang, COUNT(*) AS t FROM ttok GROUP BY lang),
    v AS (SELECT COUNT(DISTINCT tok) AS v FROM ttok),
    nd AS (SELECT lang, COUNT(*) AS n FROM train_docs GROUP BY lang),
    ndt AS (SELECT COUNT(*) AS n FROM train_docs),
    prior AS (
      SELECT nd.lang,
             CAST(round(round(ln(CAST(nd.n AS DOUBLE) / ndt.n), 6) * 1000000)
                  AS BIGINT) AS p6
      FROM nd, ndt
    ),
    etok AS (SELECT doc_id, unnest(tk) AS tok FROM test_docs),
    terms AS (
      SELECT e.doc_id, l.lang,
             CAST(round(round(ln((COALESCE(c.c, 0) + 1.0) / (tl.t + v.v)), 6)
                        * 1000000) AS BIGINT) AS t6
      FROM etok e
      CROSS JOIN langs l
      LEFT JOIN c ON c.lang = l.lang AND c.tok = e.tok
      JOIN tl ON tl.lang = l.lang, v
    ),
    tsum AS (
      SELECT doc_id, lang, SUM(t6) AS s6 FROM terms GROUP BY doc_id, lang
    ),
    scored AS (
      SELECT td.doc_id, l.lang,
             p.p6 + COALESCE(tsum.s6, 0) AS score6
      FROM test_docs td
      CROSS JOIN langs l
      JOIN prior p ON p.lang = l.lang
      LEFT JOIN tsum ON tsum.doc_id = td.doc_id AND tsum.lang = l.lang
    )"""

register(
    "ml_naive_bayes_lang_eval",
    # a COMPLETE supervised-ML pipeline — train, predict, evaluate —
    # as exact relational algebra: multinomial Naive Bayes with
    # Laplace smoothing fit on the u<0.7 hash split's (lang, token)
    # counts, applied to the held-out docs (including tokens the
    # training split never saw — the smoothing term), scored per
    # (doc, lang) in micro-nat integer sums, argmax with deterministic
    # ties, rolled up into the label-vs-prediction confusion matrix.
    # Every probability is a ratio of exact integer counts; ln rounds
    # to 6 dp before the integer scaling (the bigram-LM convention).
    oracle=f"""
    WITH {_NB_CTES},
    pred AS (
      SELECT doc_id, lang AS lang_pred FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score6 DESC, lang) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT td.lang, p.lang_pred, COUNT(*) AS n_docs
    FROM test_docs td JOIN pred p USING (doc_id)
    GROUP BY td.lang, p.lang_pred
    ORDER BY td.lang, p.lang_pred
    """,
)


def _nb_frames(spark, sf_dir, with_train: bool = False):
    """Shared Naive-Bayes train+score pipeline (the Spark twin of
    _NB_CTES): returns (test, scored) where scored carries the exact
    micro-nat per-(doc, lang) log score — consumed by the confusion
    matrix AND the margin-calibration report. ``with_train=True``
    appends the checkpointed train frame AND the per-lang train doc
    counts (the nd aggregate the pipeline already builds) so raters
    derived from the TRAINING split (e.g. Fleiss' constant-prior
    baseline) single-source both the 0.7/'nb' split and the count
    aggregate instead of hand-rolling copies that could drift from
    _NB_CTES (review findings, passes 4 and 5)."""
    from ..ops.sampling import hash_uniform01

    d = t(spark, sf_dir, "documents")
    u = hash_uniform01(F.col("doc_id"), "nb")
    tk = tok_arr(F.col("text"))
    base = d.select("doc_id", "lang", tk.alias("__tk"), u.alias("__u"))
    # 2+-consumer convention: train feeds ttok/langs/nd/ndt and test
    # feeds etok/scored plus the caller's label join — without the lazy
    # checkpoints every branch re-scans and re-tokenizes documents.
    train = base.filter(F.col("__u") < 0.7).localCheckpoint(eager=False)
    test = base.filter(F.col("__u") >= 0.7).localCheckpoint(eager=False)
    ttok = train.select("lang", F.explode("__tk").alias("tok"))
    langs = train.select("lang").distinct()
    c = ttok.groupBy("lang", "tok").agg(F.count("*").alias("__c"))
    tl = ttok.groupBy("lang").agg(F.count("*").alias("__t"))
    v = ttok.agg(F.countDistinct("tok").alias("__v"))
    nd = train.groupBy("lang").agg(F.count("*").alias("__n"))
    ndt = train.agg(F.count("*").alias("__ndt"))

    def _micro(x):
        return F.round(F.round(F.log(x), 6) * F.lit(1000000.0)).cast("bigint")

    prior = nd.crossJoin(F.broadcast(ndt)).select(
        "lang", _micro(F.col("__n").cast("double") / F.col("__ndt")).alias("__p6")
    )
    etok = test.select("doc_id", F.explode("__tk").alias("tok"))
    terms = (
        etok.crossJoin(F.broadcast(langs))
        .join(c, ["lang", "tok"], "left")
        .join(F.broadcast(tl), "lang")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "lang",
            _micro(
                (F.coalesce(F.col("__c"), F.lit(0)) + F.lit(1.0))
                / (F.col("__t") + F.col("__v"))
            ).alias("__t6"),
        )
    )
    tsum = terms.groupBy("doc_id", "lang").agg(F.sum("__t6").alias("__s6"))
    scored = (
        test.select("doc_id")
        .crossJoin(F.broadcast(langs))
        .join(F.broadcast(prior), "lang")
        .join(tsum, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "lang",
            (F.col("__p6") + F.coalesce(F.col("__s6"), F.lit(0))).alias("__score6"),
        )
    )
    if with_train:
        return test, scored, train, nd
    return test, scored


def _dnb(spark, sf_dir):
    """Multinomial Naive Bayes, trained and evaluated entirely in
    DataFrame algebra (no MLlib, no UDF): token-count likelihoods with
    Laplace smoothing from the training split, per-(doc, lang) log
    scores as exact micro-nat integer sums (5-row lang table broadcast,
    term joins on (lang, token)), deterministic argmax, held-out
    confusion matrix. The count tables are the train-once model
    artifact — the persisted-index pattern applied to a classifier."""
    test, scored = _nb_frames(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("__score6"), "lang")
    pred = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", F.col("lang").alias("lang_pred"))
    )
    return (
        test.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


CATALOG["ml_naive_bayes_lang_eval"].fn = _dnb

register(
    "evt_stream_topk_now",
    # fourteenth streaming run: complete-mode aggregation + ORDER BY +
    # LIMIT (sorting a streaming result is legal ONLY in complete mode
    # after aggregation — this run exercises exactly that corner): the
    # top-3 event types by running count.
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events GROUP BY event_type
    ORDER BY n DESC, event_type LIMIT 3
    """,
)


def _dstreamtopk(spark, sf_dir):
    """Streaming top-k: counts maintained as streaming state, the
    complete-mode output sorted and limited INSIDE the streaming query
    (the one place Structured Streaming allows a sort), driven with
    availableNow — the live leaderboard shape."""
    schema = _events_stream_schema(ts_ntz=False)
    src = _stream_file_source(spark, sf_dir, "events.parquet", schema)
    topk = (
        src.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "event_type")
        .limit(3)
    )
    return _run_stream_to_memory(topk, "evt_stream_topk_sink", "complete")


CATALOG["evt_stream_topk_now"].fn = _dstreamtopk

register(
    "sample_balanced_class_downsample",
    # class balancing for training: every language downsampled to the
    # MINORITY class's document count, members chosen by the
    # deterministic hash draw — the imbalanced-classification prep step.
    # The minority count is a 1-row scalar; selection is one rank
    # window per class.
    oracle=f"""
    WITH n AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
    m AS (SELECT MIN(c) AS mc FROM n),
    r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_HASH01_SQL.format(key="doc_id || 'bal'")}, doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, lang FROM r, m WHERE r.rn <= m.mc
    ORDER BY lang, doc_id
    """,
)


def _dbalance(spark, sf_dir):
    """Balanced downsampling: each class keeps exactly min-class-count
    docs, picked by the reproducible hash draw (one count aggregate ->
    1-row min scalar broadcast -> one rank window per class)."""
    from ..ops.sampling import hash_uniform01

    d = t(spark, sf_dir, "documents")
    mc = (
        d.groupBy("lang")
        .agg(F.count("*").alias("c"))
        .agg(F.min("c").alias("__mc"))
    )
    u = hash_uniform01(F.col("doc_id"), "bal")
    w = Window.partitionBy("lang").orderBy(u.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "lang")
        .withColumn("__rn", F.row_number().over(w))
        .crossJoin(F.broadcast(mc))
        .filter(F.col("__rn") <= F.col("__mc"))
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


CATALOG["sample_balanced_class_downsample"].fn = _dbalance

# Shared hourly-totals stage: exact cents per (event_type, hour) — the
# obs CTE/frame consumed by the moving average, the EWMA family (single
# and Brown double), the change-point detector, the peak detector, the
# sliding median and the Page-Hinkley detector. Single-sourced so the
# bucketing recipe (the decimal cast and the *100 snap) can never drift
# between copies.
_HOURLY_TYPE_CENTS_CTE = """obs AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    )"""


def _hourly_type_cents(spark, sf_dir):
    """Spark twin of _HOURLY_TYPE_CENTS_CTE."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg((F.sum(F.col("value").cast(DEC)) * 100).cast("long").alias("cents"))


register(
    "evt_change_point_hourly",
    # simple change-point detection: per event_type, the hour with the
    # largest absolute hour-over-hour jump in total value (lag window +
    # deterministic argmax). Totals ride as exact cents; the jump is an
    # exact integer difference.
    oracle=f"""
    WITH {_HOURLY_TYPE_CENTS_CTE},
    d AS (
      SELECT event_type, h, cents,
             cents - LAG(cents) OVER (PARTITION BY event_type ORDER BY h) AS jump
      FROM obs
    )
    SELECT event_type,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS change_hour,
           CAST(jump AS DOUBLE) / 100.0 AS jump_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY abs(jump) DESC, h) AS rn
      FROM d WHERE jump IS NOT NULL
    ) WHERE rn = 1
    ORDER BY event_type
    """,
)


def _dchangepoint(spark, sf_dir):
    """Largest hour-over-hour jump per event_type (the cheap
    change-point flag a monitor raises before fancier models run): one
    bucket aggregate, one lag window, one argmax window — all
    partitioned by type, all exact-integer cents."""
    from pyspark.sql import Window as W

    obs = _hourly_type_cents(spark, sf_dir)
    wl = W.partitionBy("event_type").orderBy("h")
    d = obs.withColumn("jump", F.col("cents") - F.lag("cents").over(wl)).filter(
        F.col("jump").isNotNull()
    )
    wr = W.partitionBy("event_type").orderBy(F.abs(F.col("jump")).desc(), F.col("h"))
    return (
        d.withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") == 1)
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("change_hour"),
            (F.col("jump").cast("double") / F.lit(100.0)).alias("jump_value"),
        )
        .orderBy("event_type")
    )


CATALOG["evt_change_point_hourly"].fn = _dchangepoint

register(
    "d8_iso_week_rollup",
    # ISO-8601 week bucketing (the one calendar unit the d5 rollup
    # skipped — week-of-year semantics differ across SQL dialects, but
    # Spark weekofyear and DuckDB weekofyear both implement ISO 8601):
    # per (iso_year, iso_week) order counts and exact revenue.
    oracle="""
    SELECT CAST(isoyear(o_orderdate) AS INT) AS iso_year,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)


def _disoweek(spark, sf_dir):
    """ISO-week rollup of orders — weekofyear is ISO 8601 in BOTH
    engines, and the year must be the ISO year (late-December dates can
    belong to week 1 of the NEXT year; Jan 1 can belong to week 52/53
    of the PREVIOUS), which Spark spells extract(YEAROFWEEK ...) (the
    'YYYY' format pattern is rejected since Spark 3) — calendar-edge
    semantics value-proven, not assumed."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.expr("extract(YEAROFWEEK FROM o_orderdate)").cast("int").alias("iso_year"),
            F.weekofyear("o_orderdate").alias("iso_week"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            dsum_expr(F.col("o_totalprice").cast(DEC), "revenue"),
        )
        .orderBy("iso_year", "iso_week")
    )


CATALOG["d8_iso_week_rollup"].fn = _disoweek

register(
    "evt_dau_wau_stickiness",
    # the product-analytics staple: daily active users, the trailing
    # 7-day active-user count anchored at that day, and the DAU/WAU
    # stickiness ratio. Distinct counts are exact; the ratio divides
    # exact integers, rounded to 6 dp.
    oracle="""
    WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS d FROM events),
    dau AS (
      SELECT date_trunc('day', ts) AS d, COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY 1
    ),
    wau AS (
      SELECT days.d, COUNT(DISTINCT e.user_id) AS wau
      FROM days JOIN events e
        ON date_trunc('day', e.ts) > days.d - INTERVAL 7 DAY
       AND date_trunc('day', e.ts) <= days.d
      GROUP BY days.d
    )
    SELECT strftime(dau.d, '%Y-%m-%d') AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    ORDER BY day
    """,
)


def _ddauwau(spark, sf_dir):
    """DAU / trailing-7-day WAU / stickiness per day. The WAU side is a
    bucketed range join (each event contributes to the 7 anchor days it
    falls into — an explode to at most 7 (day, user) rows, then one
    distinct count per day), NOT a day x events cross join; at scale
    the shuffle carries (anchor_day, user_id) pairs only."""
    ev = t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    dau = ev.groupBy(day.alias("d")).agg(F.countDistinct("user_id").alias("dau"))
    days = ev.select(day.alias("d")).distinct()
    # each event fans out to the anchor days whose trailing window
    # contains it: d in [event_day, event_day + 6]
    anchors = ev.select(
        F.explode(
            F.sequence(day, day + F.expr("INTERVAL 6 DAYS"), F.expr("INTERVAL 1 DAY"))
        ).alias("d"),
        "user_id",
    )
    wau = (
        anchors.join(days, "d")  # only anchor days that actually exist
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


CATALOG["evt_dau_wau_stickiness"].fn = _ddauwau

register(
    "evt_funnel_counts",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_v FROM events WHERE event_type = 'view'
      GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_c
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_v
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_p
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_c
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS users_viewed,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS users_clicked_after,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS users_purchased_after
    """,
)


def _dfunnel(spark, sf_dir):
    """Strict-order funnel (view -> click -> purchase): each stage is a
    user-keyed conditional-min aggregate joined back to the stream, so
    all three stages co-partition on user_id — one shuffle keying, no
    window over the whole event history, no per-user collect."""
    e = t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_v"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_v"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_c"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_c"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_p"))
    )
    return (
        v.agg(F.count("*").cast("bigint").alias("users_viewed"))
        .crossJoin(F.broadcast(c.agg(F.count("*").cast("bigint").alias("users_clicked_after"))))
        .crossJoin(F.broadcast(p.agg(F.count("*").cast("bigint").alias("users_purchased_after"))))
    )


CATALOG["evt_funnel_counts"].fn = _dfunnel


_EVENTS_STREAM_FIELDS = [
    ("event_id", "long"), ("ts", None), ("user_id", "long"),
    ("event_type", "string"), ("value", "double"), ("props", "string"),
]


def _events_stream_schema(ts_ntz: bool):
    """Streaming twin of t()'s events handling. NOTE: assumes the
    events parquet stores ts as TIMESTAMP(MICROS) — true for every
    driver-generated SF; a nanos file (which batch t() tolerates via
    the legacy conf) would fail the streaming scan."""
    from pyspark.sql import types as T

    ts_type = T.TimestampNTZType() if ts_ntz else T.TimestampType()
    m = {"long": T.LongType(), "string": T.StringType(), "double": T.DoubleType()}
    return T.StructType(
        [
            T.StructField(n, ts_type if t_ is None else m[t_])
            for n, t_ in _EVENTS_STREAM_FIELDS
        ]
    )


def _stream_file_source(spark, sf_dir, file_name, schema):
    """File-stream source over one table of the testdata dir. Pins the
    session to UTC first — each catalog fn must be self-sufficient
    because the driver samples queries individually, and the streaming
    path never goes through t()."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", file_name)
        .load(sf_dir)
    )


def _run_stream_to_memory(df, name, mode):
    """Drive a streaming frame to completion into a memory sink and
    return the sink table; raises if the stream missed the deadline
    (a partial table must never reach the correctness gate)."""
    spark = df.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"stream {name} did not finish within 300s")
    return spark.table(name)


register(
    "evt_stream_tumbling_now",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)


def _dstreamnow(spark, sf_dir):
    """REAL Structured Streaming execution inside the correctness gate:
    the events parquet is read as a file STREAM, aggregated with the
    same tumbling expression as the batch twin, and driven to completion
    with trigger(availableNow) into a memory sink — complete output
    mode with no watermark makes the final table equal the batch
    aggregate exactly, which the oracle checks. This is the
    one-definition-two-execution-modes contract of Structured
    Streaming, proven by value hash rather than claimed."""
    src = _stream_file_source(
        spark, sf_dir, "events.parquet", _events_stream_schema(ts_ntz=True)
    )
    agg = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("events"), dsum("value", "total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "events",
            "total_value",
        )
    )
    return _run_stream_to_memory(agg, "evt_stream_tumbling_now_sink", "complete")


CATALOG["evt_stream_tumbling_now"].fn = _dstreamnow

register(
    "j5_full_outer_reconcile",
    oracle="""
    SELECT CASE WHEN c.c_custkey IS NULL THEN 'order_only'
                WHEN o.o_custkey IS NULL THEN 'customer_only'
                ELSE 'matched' END AS side,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT DISTINCT o_custkey FROM orders) o
    FULL OUTER JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY side
    """,
)


def _dfull(spark, sf_dir):
    """Full-outer reconciliation (the audit join): which customers have
    no orders, which order keys have no customer row, how many match.
    One distinct + one full-outer shuffle join, both key-partitioned."""
    o = t(spark, sf_dir, "orders").select("o_custkey").distinct()
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey, "full_outer")
    side = (
        F.when(F.col("c_custkey").isNull(), F.lit("order_only"))
        .when(F.col("o_custkey").isNull(), F.lit("customer_only"))
        .otherwise(F.lit("matched"))
    )
    return j.groupBy(side.alias("side")).agg(F.count("*").cast("bigint").alias("n"))


CATALOG["j5_full_outer_reconcile"].fn = _dfull

register(
    "evt_stream_stateful_totals",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY user_id
    """,
)


def _dstateful(spark, sf_dir):
    """REAL stateful streaming (applyInPandasWithState) inside the
    correctness gate: per-user running totals held in explicit state,
    driven to completion with availableNow into a memory sink; the
    final state per user hash-matches a plain GROUP BY oracle. Money
    accumulates as integer CENTS (value is a 2-dp double, so
    round(value*100) is exact in both engines) — the float-sum
    ordering problem never arises."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _stream_file_source(
        spark, sf_dir, "events.parquet", _events_stream_schema(ts_ntz=True)
    )
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_cents", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("cents", T.LongType())]
    )

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    totals = src.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    sink = _run_stream_to_memory(totals, "evt_stream_stateful_totals_sink", "update")
    # a user may emit once per micro-batch; the final state is the row
    # with the highest event count (max_by, NOT max(total) — totals
    # would not be monotonic if values could go negative)
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_cents", "n_events").alias("total_cents"),
    )


CATALOG["evt_stream_stateful_totals"].fn = _dstateful

register(
    "evt_stream_sessions_now",
    # Boundary convention: Spark's session_window spans [ts, ts+gap) and
    # merges only on strict overlap, so an inter-event gap of EXACTLY
    # 30:00 starts a new session. The oracle therefore uses >= (gap >=
    # 30 min => new session). The batch evt_sessionization query keeps
    # its own, different convention (strictly-greater) consistently on
    # both sides — the two are separate, each internally aligned.
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                   OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start_s,
           CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration_secs
    FROM sess GROUP BY user_id, session_id
    """,
)


def _dstreamsess(spark, sf_dir):
    """REAL streaming session windows (Spark's native session_window
    state merge) driven to completion with availableNow in complete
    output mode: the final table equals batch gaps-and-islands
    sessionization, and the oracle hash-checks it. Watermarks require a
    tz-aware TIMESTAMP column, so the source pins the session to UTC
    (via the shared helper) before reading — date_format then renders
    the same naive strings the oracle computes. (Append mode under the
    same watermark emits 9515 of 9549 sessions at sf0.01 — the last
    2 h stay in state; complete mode emits the full final state.)"""
    src = _stream_file_source(
        spark, sf_dir, "events.parquet", _events_stream_schema(ts_ntz=False)
    )
    agg = (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start_s"),
            (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("duration_secs"),
        )
        .select("user_id", "n_events", "session_start_s", "duration_secs")
    )
    return _run_stream_to_memory(agg, "evt_stream_sessions_now_sink", "complete")


CATALOG["evt_stream_sessions_now"].fn = _dstreamsess

register(
    "evt_stream_sessions_append",
    # Append-mode emission semantics, pinned by a planted-boundary probe
    # (tests/test_streaming.py::test_append_session_watermark_boundary):
    # the watermark is the MILLISECOND-floored max event time minus the
    # delay, and a session is emitted iff session_window.end <= that
    # watermark (equality EMITS; 1 ms short does not). The oracle is the
    # batch gaps-and-islands result filtered to exactly those sessions.
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                   OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), agg AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start_s,
             CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration_secs,
             MAX(ts) + INTERVAL 30 MINUTE AS w_end
      FROM sess GROUP BY user_id, session_id
    ), wm AS (
      SELECT date_trunc('millisecond', MAX(ts)) - INTERVAL 2 HOUR AS w FROM events
    )
    SELECT user_id, n_events, session_start_s, duration_secs
    FROM agg, wm WHERE agg.w_end <= wm.w
    """,
)


def _dstreamsessappend(spark, sf_dir):
    """Streaming session windows in APPEND mode — the production shape:
    only sessions the watermark has CLOSED are emitted (at sf0.01 that
    is 9515 of 9549; the final 2 h of event time stay in state, exactly
    as a live pipeline would hold them awaiting late data). The oracle
    reproduces the watermark cutoff to the millisecond, so this is the
    append-emission semantics value-verified, not just demonstrated."""
    src = _stream_file_source(
        spark, sf_dir, "events.parquet", _events_stream_schema(ts_ntz=False)
    )
    agg = (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start_s"),
            (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("duration_secs"),
        )
        .select("user_id", "n_events", "session_start_s", "duration_secs")
    )
    return _run_stream_to_memory(agg, "evt_stream_sessions_append_sink", "append")


CATALOG["evt_stream_sessions_append"].fn = _dstreamsessappend

register(
    "evt_stream_join_now",
    # Inner stream-stream joins emit matches as both sides arrive (the
    # watermark only bounds join STATE, not emission), so availableNow
    # over the full file yields exactly the batch join — which the
    # oracle is.
    oracle="""
    SELECT l.user_id, l.event_id AS click_event, r.event_id AS purchase_event,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS click_ts_s,
           strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts_s
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'click' AND r.event_type = 'purchase'
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
    """,
)


def _dstreamjoin(spark, sf_dir):
    """REAL stream-stream join in the correctness gate: click and
    purchase event STREAMS correlated per user within a 1-hour
    event-time bound (streaming/events.correlate_streams — both sides
    watermarked so join state evicts; without the time bound state
    would grow forever). Driven with availableNow into a memory sink;
    the emitted matches hash-match the batch interval join."""
    from ..streaming.events import correlate_streams

    schema = _events_stream_schema(ts_ntz=False)
    clicks = _stream_file_source(spark, sf_dir, "events.parquet", schema).filter(
        F.col("event_type") == "click"
    )
    purchases = _stream_file_source(spark, sf_dir, "events.parquet", schema).filter(
        F.col("event_type") == "purchase"
    )
    j = correlate_streams(clicks, purchases, key="user_id", within="1 hour")
    out = j.select(
        "user_id",
        F.col("left_event").alias("click_event"),
        F.col("right_event").alias("purchase_event"),
        F.date_format("left_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts_s"),
        F.date_format("right_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts_s"),
    )
    return _run_stream_to_memory(out, "evt_stream_join_now_sink", "append")


CATALOG["evt_stream_join_now"].fn = _dstreamjoin

register(
    "evt_stream_sliding_now",
    oracle="""
    WITH g AS (SELECT unnest(range(0, 4)) AS s)
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts - s * INTERVAL 15 MINUTE)
                    + s * INTERVAL 15 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS events
    FROM events, g
    GROUP BY 1, 2
    """,
)


def _dstreamslide(spark, sf_dir):
    """Streaming SLIDING windows (1 h window, 15 min slide) driven to
    completion in complete mode: every event lands in 4 overlapping
    windows; the final table equals the batch sliding aggregate, which
    the oracle expresses as 4 shifted tumbling assignments per row
    (exactly how Spark's window() expands slides internally)."""
    src = _stream_file_source(
        spark, sf_dir, "events.parquet", _events_stream_schema(ts_ntz=True)
    )
    agg = (
        src.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").cast("bigint").alias("events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "events",
        )
    )
    return _run_stream_to_memory(agg, "evt_stream_sliding_now_sink", "complete")


CATALOG["evt_stream_sliding_now"].fn = _dstreamslide

register(
    "evt_stream_dedup_watermark_now",
    # the union duplicates EVERY event (two file-stream reads of the
    # same data); watermarked dedup must collapse them exactly back to
    # the distinct event set
    oracle="SELECT DISTINCT event_id FROM events",
)


def _dstreamdedupwm(spark, sf_dir):
    """Watermark-bounded streaming dedup in the gate
    (dropDuplicatesWithinWatermark — the production form whose state
    EVICTS beyond the horizon, unlike plain dropDuplicates' unbounded
    state): two file-stream reads of the events table union into a
    stream where every event arrives twice; the deduped output must
    equal DISTINCT event_id. Within one availableNow horizon nothing is
    evicted, so the semantics are exact-once per key — the eviction
    behavior itself is bounded-state by construction and unit-tested in
    test_streaming."""
    schema = _events_stream_schema(ts_ntz=False)
    a = _stream_file_source(spark, sf_dir, "events.parquet", schema)
    b = _stream_file_source(spark, sf_dir, "events.parquet", schema)
    doubled = a.unionByName(b)
    deduped = (
        doubled.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    return _run_stream_to_memory(deduped, "evt_stream_dedup_wm_sink", "append")


CATALOG["evt_stream_dedup_watermark_now"].fn = _dstreamdedupwm

register(
    "doc_stream_dedup_now",
    oracle="""
    SELECT DISTINCT sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                               ' +', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)


def _dstreamdedup(spark, sf_dir):
    """REAL streaming dedup in the correctness gate: a document file
    stream deduplicated on the normalized-text fingerprint with
    streaming ``dropDuplicates`` (exact-once state per key), driven to
    completion with availableNow. Which physical row survives is
    engine-dependent, so the query emits only the fingerprint set —
    deterministic and hash-checked against DISTINCT in DuckDB."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    src = _stream_file_source(spark, sf_dir, "documents.parquet", schema)
    deduped = (
        src.select(text.fingerprint(F.col("text")).alias("fingerprint"))
        .dropDuplicates(["fingerprint"])
    )
    return _run_stream_to_memory(deduped, "doc_stream_dedup_now_sink", "append")


CATALOG["doc_stream_dedup_now"].fn = _dstreamdedup

def _minhash_portable_oracle(
    num_perm: int = 16, bands: int = 4, thr: float = 0.5, src: str = "documents"
) -> str:
    """Oracle for the portable MinHash: the SAME shingles, sha256-derived
    h1/h2, linear-mix minima, band hashes and agreement estimate, in
    DuckDB SQL. Generated so num_perm/bands stay in sync with the Spark
    call; ``src`` lets composed pipelines run it over a CTE of
    survivors instead of the base table."""
    from ..ops.pairs import DEFAULT_MAX_BLOCK as _CAP

    rpb = num_perm // bands
    min_cols = ",\n             ".join(
        f"MIN(h1 + {i} * h2) AS m{i}" for i in range(num_perm)
    )
    band_cols = ",\n             ".join(
        "sha256(concat_ws('_', "
        + ", ".join(f"CAST(m{b * rpb + r} AS VARCHAR)" for r in range(rpb))
        + f")) AS bh{b}"
        for b in range(bands)
    )
    agree = " + ".join(f"CASE WHEN a.m{i} = c.m{i} THEN 1 ELSE 0 END" for i in range(num_perm))
    # Per-band capped pairing: ops/pairs.pairs_within_groups keeps each
    # (band, bucket)'s DEFAULT_MAX_BLOCK smallest ids before expanding
    # pairs — the oracle mirrors the cap member-for-member so parity
    # holds even on a corpus with a pathological hot bucket (the
    # pre-cap OR-join + DISTINCT is equivalent to this per-band union
    # whenever no bucket exceeds the cap).
    ranked = ",\n    ".join(
        f"""r{b} AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY bh{b} ORDER BY doc_id) AS rn
      FROM b
    )"""
        for b in range(bands)
    )
    branches = "\n      UNION ALL\n".join(
        f"""      SELECT a.doc_id AS id_a, c.doc_id AS id_b,
             ({agree}) / {float(num_perm)!r} AS jaccard_est
      FROM r{b} a JOIN r{b} c
        ON a.bh{b} = c.bh{b} AND a.doc_id < c.doc_id
      WHERE a.rn <= {_CAP} AND c.rn <= {_CAP}
        AND ({agree}) / {float(num_perm)!r} >= {thr!r}"""
        for b in range(bands)
    )
    return f"""
    WITH tk AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
      FROM {src}
    ),
    g AS (SELECT doc_id, unnest({_GRAMS3_SQL}) AS s FROM tk),
    h AS (
      SELECT doc_id,
             ('0x' || substr(sha256(s), 1, 8))::BIGINT AS h1,
             ('0x' || substr(sha256(s), 9, 8))::BIGINT AS h2
      FROM g
    ),
    sig AS (
      SELECT doc_id,
             {min_cols}
      FROM h GROUP BY doc_id
    ),
    b AS MATERIALIZED (
      SELECT *,
             {band_cols}
      FROM sig
    ),
    {ranked}
    SELECT DISTINCT id_a, id_b, jaccard_est FROM (
{branches}
    )
    """


register("minhash_dup_pairs_portable", oracle=_minhash_portable_oracle())


def _dmhp(spark, sf_dir):
    """MinHash+LSH with the cross-engine sha256 hash family: the ONE
    minhash whose banding algebra is value-checked end to end (the
    xxhash64 variant stays rows-only and ~3x faster)."""
    d = t(spark, sf_dir, "documents")
    return dedup.minhash_dup_pairs_portable(
        d, "doc_id", "text", num_perm=16, bands=4, jaccard_threshold=0.5
    )


CATALOG["minhash_dup_pairs_portable"].fn = _dmhp

# word-2-gram SQL matching shingles_from_tokens(tk, 2) (simhash tokens)
_GRAMS2_SQL = (
    "list_filter(list_distinct(list_transform("
    "range(1, greatest(len(tk) - 1, 1) + 1), "
    "i -> array_to_string(tk[i:i+1], ' '))), g -> g <> '')"
)


def _simhash_portable_oracle(max_hamming: int = 3) -> str:
    """Oracle for the portable SimHash: 60-bit sha256 token hashes,
    per-bit majority votes, pigeonhole segment blocking, exact Hamming
    verify — semantically identical to the Spark SWAR implementation
    (which packs the same votes through 16-lane popcounts)."""
    bits = 60
    sums = ",\n             ".join(
        f"SUM((h >> {k}) & 1) AS b{k}" for k in range(bits)
    )
    pack = " + ".join(
        f"(CASE WHEN b{k} * 2 > c THEN {1 << k} ELSE 0 END)" for k in range(bits)
    )
    k = max_hamming + 1
    width = 64 // k
    segs = " OR ".join(
        f"((a.sim >> {i * width}) & {(1 << (width if i < k - 1 else 64 - (k - 1) * width)) - 1})"
        f" = ((c.sim >> {i * width}) & {(1 << (width if i < k - 1 else 64 - (k - 1) * width)) - 1})"
        for i in range(k)
    )
    return f"""
    WITH tk AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ),
    g AS (SELECT doc_id, unnest({_GRAMS2_SQL}) AS s FROM tk),
    h AS (
      SELECT doc_id, ('0x' || substr(sha256(s), 1, 15))::BIGINT AS h FROM g
    ),
    sums AS (
      SELECT doc_id, COUNT(*) AS c,
             {sums}
      FROM h GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {pack} AS sim FROM sums),
    allsig AS (
      SELECT d.doc_id, COALESCE(s.sim, 0) AS sim
      FROM documents d LEFT JOIN sig s USING (doc_id)
    )
    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(bit_count(xor(a.sim, c.sim)) AS BIGINT) AS hamming
    FROM allsig a JOIN allsig c ON a.doc_id < c.doc_id AND ({segs})
    WHERE bit_count(xor(a.sim, c.sim)) <= {max_hamming}
    """


register("simhash_dup_pairs_portable", oracle=_simhash_portable_oracle())


def _dshp(spark, sf_dir):
    """SimHash near-dup pairs with the cross-engine 60-bit sha256 token
    hash: signature votes, pigeonhole blocking and Hamming verify all
    hash-match the SQL oracle (the xxhash64 variant stays rows-only
    and faster)."""
    d = t(spark, sf_dir, "documents")
    out = dedup.simhash_dup_pairs_portable(d, "doc_id", "text", max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))


CATALOG["simhash_dup_pairs_portable"].fn = _dshp

def _minhash_clusters_oracle() -> str:
    """Recursive-CTE transitive closure over the PORTABLE minhash pair
    set: the end-to-end fuzzy-dedup pipeline (hash family -> banding ->
    verify -> clustering) value-checked in one query."""
    pairs_sql = _minhash_portable_oracle()
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    walk(id, lab) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, w.lab FROM edges e JOIN walk w ON e.dst = w.id
    )
    SELECT id AS doc_id, MIN(lab) AS cluster FROM walk GROUP BY id
    """


register("dup_clusters_minhash", oracle=_minhash_clusters_oracle())


def _dclustmh(spark, sf_dir):
    """Duplicate clusters over the PORTABLE MinHash pair set: the full
    fuzzy-dedup pipeline — cross-engine hash family, LSH banding,
    agreement verify, then distributed label propagation — checked
    exactly against DuckDB's recursive-CTE closure of the same pairs."""
    from ..ops import graph

    d = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dup_pairs_portable(
        d, "doc_id", "text", num_perm=16, bands=4, jaccard_threshold=0.5
    )
    return graph.connected_components(pairs.select("id_a", "id_b")).select(
        F.col("id").alias("doc_id"), F.col("cluster")
    )


CATALOG["dup_clusters_minhash"].fn = _dclustmh

def _corpus_curation_oracle() -> str:
    """The composed curation pipeline in one SQL query: exact
    fingerprint dedup -> portable-MinHash near-dup clustering with a
    recursive-CTE closure over the SURVIVORS -> representative pick ->
    quality filter. Every fragment is a proven standalone oracle."""
    pairs_sql = _minhash_portable_oracle(src="docs1")
    return f"""
    WITH RECURSIVE fp AS (
      SELECT doc_id,
             sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                        ' +', ' ', 'g'))) AS f
      FROM documents
    ),
    keep1 AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f),
    docs1 AS (SELECT d.* FROM documents d JOIN keep1 USING (doc_id)),
    pairs AS ({pairs_sql}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    walk(id, lab) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, w.lab FROM edges e JOIN walk w ON e.dst = w.id
    ),
    labels AS (SELECT id AS doc_id, MIN(lab) AS cluster FROM walk GROUP BY id),
    reps AS (
      SELECT d.doc_id, d.text FROM docs1 d LEFT JOIN labels l USING (doc_id)
      WHERE l.doc_id IS NULL OR l.cluster = d.doc_id
    ),
    q AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS toks,
             CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS punct,
             CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b')) AS BIGINT) AS stop,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM reps
    )
    SELECT doc_id,
           LEAST(CAST(toks AS DOUBLE) / 50.0, 1.0) * 0.4
           + LEAST((CAST(stop AS DOUBLE) / toks) * 5.0, 1.0) * 0.3
           + GREATEST(1.0 - (CAST(punct AS DOUBLE) / n_chars) * 10.0, 0.0) * 0.3
               AS quality_score
    FROM q
    WHERE LEAST(CAST(toks AS DOUBLE) / 50.0, 1.0) * 0.4
           + LEAST((CAST(stop AS DOUBLE) / toks) * 5.0, 1.0) * 0.3
           + GREATEST(1.0 - (CAST(punct AS DOUBLE) / n_chars) * 10.0, 0.0) * 0.3 >= 0.5
    """


register("corpus_curation_pipeline", oracle=_corpus_curation_oracle())


def _dcorpus(spark, sf_dir):
    """The END-TO-END training-corpus curation pipeline as ONE composed
    query — what a user actually runs nightly, not isolated operators:
    (1) exact dedup on the normalized fingerprint (keep lowest doc_id),
    (2) near-dup clustering over the SURVIVORS (portable MinHash-LSH ->
    distributed connected components), keeping each cluster's
    representative, (3) quality-score filter (>= 0.5). Hash-matched
    against a single SQL query composing the same proven fragments —
    the operators compose without value drift. Plan shape: every stage
    is equi-join/aggregate-only, so the composition inherits each
    stage's scale properties unchanged."""
    from ..ops import graph

    d = t(spark, sf_dir, "documents")
    fp = d.select("doc_id", text.fingerprint(F.col("text")).alias("__f"))
    keep1 = fp.groupBy("__f").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    docs1 = d.join(keep1, "doc_id")
    pairs = dedup.minhash_dup_pairs_portable(
        docs1, "doc_id", "text", num_perm=16, bands=4, jaccard_threshold=0.5
    )
    labels = graph.connected_components(pairs.select("id_a", "id_b")).withColumnRenamed(
        "id", "doc_id"
    )
    reps = docs1.join(labels, "doc_id", "left").filter(
        F.col("cluster").isNull() | (F.col("cluster") == F.col("doc_id"))
    )
    scored = reps.select(
        "doc_id", text.quality_score(F.col("text")).alias("quality_score")
    )
    return scored.filter(F.col("quality_score") >= 0.5)


CATALOG["corpus_curation_pipeline"].fn = _dcorpus

_KLL_QS = [0.50, 0.95, 0.99]


def _kll_oracle_sql(table: str, col: str) -> str:
    """The KLL bounded-error gate oracle, shared by the batch and
    streaming runs: the KLL ESTIMATE can't hash-match across engines,
    but (a) the exact interpolated percentile can (both engines define
    it at index q*(n-1), rounded 4dp) and (b) "the estimate's empirical
    rank is within 0.05 of q" is a hard boolean (KLL k=200 guarantees
    ~1.65% rank error at 99% confidence)."""
    rows = "\n      UNION ALL\n".join(
        f"      SELECT {q:.2f}{' AS q' if i == 0 else ''}, "
        f"quantile_cont(CAST({col} AS DOUBLE), {q:.2f})"
        f"{' AS exact_value' if i == 0 else ''} FROM {table}"
        for i, q in enumerate(_KLL_QS)
    )
    return (
        "\n    SELECT q, ROUND(exact_value, 4) AS exact_value, TRUE AS within_bound "
        "FROM (\n" + rows + "\n    ) ORDER BY q\n    "
    )


def _kll_gate(values, ests):
    """The Spark side of the gate, shared by both runs: one batch pass
    computes the exact percentiles AND each estimate's empirical CDF
    position together; each output row carries the exact value (4dp)
    and the rank-space bound boolean. ``values`` must expose __v."""
    stats = values.crossJoin(F.broadcast(ests)).agg(
        *[F.percentile("__v", q).alias(f"__ex{i}") for i, q in enumerate(_KLL_QS)],
        *[
            F.avg((F.col("__v") <= F.col(f"__est{i}")).cast("double")).alias(
                f"__cdf{i}"
            )
            for i in range(len(_KLL_QS))
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(q).alias("q"),
                F.round(F.col(f"__ex{i}"), 4).alias("exact_value"),
                (F.abs(F.col(f"__cdf{i}") - F.lit(q)) <= F.lit(0.05)).alias(
                    "within_bound"
                ),
            )
            for i, q in enumerate(_KLL_QS)
        ]
    )
    return stats.select(F.explode(rows).alias("r")).select("r.*").orderBy("q")


register(
    "sketch_kll_price_quantiles",
    # gate recipe single-sourced in _kll_oracle_sql/_kll_gate (shared
    # with the streaming twin, the _CMS_ORACLE convention)
    oracle=_kll_oracle_sql("orders", "o_totalprice"),
)


def _dkll(spark, sf_dir):
    """Mergeable KLL quantile sketch (Spark 4 DataSketches built-in),
    driver-verifiable: per-priority partial sketches merge into one —
    the re-aggregatable form of percentile monitoring (store partials
    per day/partition, merge on demand; never a full re-sort) — and
    each gate row carries the EXACT percentile (rounded 4dp; same
    q*(n-1) interpolation in both engines) plus within_bound = the
    sketch estimate's empirical CDF position is within 0.05 of q
    (rank-space is where KLL's guarantee lives; a value-space bound
    would be data-dependent). One extra pass computes exact + CDF
    together; at 100 TB you run only the sketch side."""
    qs = [0.50, 0.95, 0.99]
    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("__v")
    )
    partial = o.groupBy("o_orderpriority").agg(
        F.kll_sketch_agg_double("__v").alias("__kll")
    )
    # kll_sketch_merge_double is a binary scalar: fold the (tiny, one
    # per group) partials pairwise
    arr = F.col("__arr")
    ests = (
        partial.agg(F.collect_list("__kll").alias("__arr"))
        .select(
            F.aggregate(
                F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
                F.element_at(arr, 1),
                lambda acc, s: F.kll_sketch_merge_double(acc, s),
            ).alias("__m")
        )
        .select(
            *[
                F.kll_sketch_get_quantile_double("__m", F.lit(q)).alias(f"__est{i}")
                for i, q in enumerate(qs)
            ]
        )
    )
    return _kll_gate(o.select("__v"), ests)


CATALOG["sketch_kll_price_quantiles"].fn = _dkll

register(
    "evt_cohort_retention",
    oracle="""
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    cohort AS (SELECT user_id, MIN(day) AS c0 FROM activity GROUP BY user_id)
    SELECT strftime(c.c0, '%Y-%m-%d') AS cohort_date,
           CAST(date_diff('day', c.c0, a.day) AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS users
    FROM activity a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY cohort_date, day_offset
    """,
)


def _dcohort(spark, sf_dir):
    """Daily cohort retention over the event stream: first-seen day per
    user (the cohort), then distinct active (user, day) pairs rolled up
    by (cohort, day offset). Two partial-aggregated shuffles plus one
    user-keyed join — the canonical product-analytics rollup."""
    e = t(spark, sf_dir, "events")
    activity = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("day").alias("c0"))
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            F.date_format("c0", "yyyy-MM-dd").alias("cohort_date"),
            F.datediff(F.col("day"), F.col("c0")).cast("bigint").alias("day_offset"),
        )
        .agg(F.count("*").cast("bigint").alias("users"))
    )


CATALOG["evt_cohort_retention"].fn = _dcohort

register(
    "evt_resample_ffill_hourly",
    # dense hourly grid per user with forward fill: Spark has window
    # aggregation but no native gap filling — buckets without events
    # simply don't exist in a groupBy result. The oracle rebuilds the
    # same grid with generate_series + IGNORE NULLS last_value; the
    # last-in-bucket pick is deterministic via (ts DESC, event_id DESC)
    # so both engines choose identical observations.
    oracle="""
    WITH ranked AS (
      SELECT user_id,
             TIMESTAMP '1970-01-01 00:00:00'
               + (CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600) * INTERVAL 1 SECOND AS bkt,
             value AS v,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT)
               ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ),
    obs AS (SELECT user_id, bkt, v FROM ranked WHERE rn = 1),
    span AS (SELECT user_id, MIN(bkt) AS lo, MAX(bkt) AS hi FROM obs GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bkt
      FROM span
    )
    SELECT g.user_id,
           strftime(g.bkt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
           last_value(o.v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bkt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value,
           o.v IS NOT NULL AS observed
    FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bkt = o.bkt
    """,
)


def _dresample(spark, sf_dir):
    """Per-user hourly resample + forward fill (ops/timeseries.
    resample_ffill): one row per (user, hour) from the user's first to
    last active hour, carrying the last observed event value across
    silent hours, with an `observed` flag separating readings from
    fills. The gap-filling primitive feature snapshots and rate
    dashboards need; event volume collapses to one row per bucket
    BEFORE any window runs, and the per-key fill window carries
    span/interval rows regardless of event count."""
    from ..ops.timeseries import resample_ffill

    e = t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id", "value"
    )
    out = resample_ffill(
        e, "user_id", "ts", "value", interval_seconds=3600, tiebreaker_col="event_id"
    )
    return out.select(
        "user_id",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "value",
        "observed",
    )


CATALOG["evt_resample_ffill_hourly"].fn = _dresample


register(
    "scd2_two_run_versions",
    bench=True,  # the lakehouse family's timing evidence in BENCH_r*
    # DuckDB replica of io/scd2.py's two-merge semantics (the reference's
    # Delta MERGE flow, silver_etl_script.py:916-966): day-1 load then a
    # day-2 batch that changes some tracked values, drops some keys, and
    # introduces new ones. Four row classes: closed (matched+changed),
    # re-inserted current versions, untouched day-1 rows (unchanged match
    # or no match), brand-new day-2 keys.
    oracle="""
    WITH c AS (SELECT c_custkey, c_mktsegment FROM customer),
    d1 AS (SELECT * FROM c WHERE c_custkey % 3 <> 0),
    d2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment
      FROM c WHERE c_custkey % 2 = 0
    )
    SELECT d1.c_custkey, d1.c_mktsegment, FALSE AS is_current,
           '2024-01-01' AS valid_from_d, '2024-01-02' AS valid_to_d
    FROM d1 JOIN d2 USING (c_custkey) WHERE d1.c_mktsegment <> d2.c_mktsegment
    UNION ALL
    SELECT d2.c_custkey, d2.c_mktsegment, TRUE, '2024-01-02', NULL
    FROM d1 JOIN d2 USING (c_custkey) WHERE d1.c_mktsegment <> d2.c_mktsegment
    UNION ALL
    SELECT d1.c_custkey, d1.c_mktsegment, TRUE, '2024-01-01', NULL
    FROM d1 LEFT JOIN d2 USING (c_custkey)
    WHERE d2.c_custkey IS NULL OR d1.c_mktsegment = d2.c_mktsegment
    UNION ALL
    SELECT d2.c_custkey, d2.c_mktsegment, TRUE, '2024-01-02', NULL
    FROM d2 LEFT JOIN d1 USING (c_custkey) WHERE d1.c_custkey IS NULL
    """,
)


def _scd2gate(spark, sf_dir):
    """S6 SCD2 MERGE, oracle-verified: the real Scd2Table.merge runs
    TWICE on deterministic customer snapshots (day 2 changes the
    tracked c_mktsegment for custkey%5==0, drops odd keys, adds keys
    day 1 lacked), with pinned batch timestamps; the full version table
    — close-changed, append-new, untouched-unchanged, is_current flags,
    validity range — must hash-match a pure-SQL replica of the merge
    semantics. This moves the reference's Delta MERGE flow
    (silver_etl_script.py:916-966, emulated in io/scd2.py) from
    local-e2e-tested into the driver correctness gate."""
    import shutil
    import tempfile

    from ..io.scd2 import Scd2Table

    base = _scratch("redp_scd2_gate")
    shutil.rmtree(base, ignore_errors=True)
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    day1 = c.filter(F.col("c_custkey") % 3 != 0)
    day2 = c.filter(F.col("c_custkey") % 2 == 0).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    tbl = Scd2Table(
        spark, base, key="c_custkey", tracked=["c_mktsegment"], order_col="c_acctbal"
    )
    tbl.merge(day1, batch_ts=F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    tbl.merge(day2, batch_ts=F.to_timestamp(F.lit("2024-01-02 00:00:00")))
    return tbl.read().select(
        "c_custkey",
        "c_mktsegment",
        "is_current",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from_d"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to_d"),
    )


CATALOG["scd2_two_run_versions"].fn = _scd2gate

register(
    "scd2_cdf_rollup",
    # Change-Data-Feed analog in the gate: a per-segment rollup
    # maintained ONLY from the per-merge change feed (subtract
    # update_preimage, add insert/update_postimage) must equal the
    # rollup over the final current snapshot — which this oracle
    # derives in pure SQL from the same deterministic day-1/day-2
    # batches as scd2_two_run_versions. Decimal sums, so the signed
    # cancellation (+old -old +new) is exact, not approximate.
    oracle="""
    WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
    d1 AS (SELECT * FROM c WHERE c_custkey % 3 <> 0),
    d2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment,
             c_acctbal
      FROM c WHERE c_custkey % 2 = 0
    ),
    final_current AS (
      -- changed keys: day-2 version is current
      SELECT d2.c_custkey, d2.c_mktsegment, d2.c_acctbal
      FROM d1 JOIN d2 USING (c_custkey) WHERE d1.c_mktsegment <> d2.c_mktsegment
      UNION ALL
      -- unmatched or unchanged day-1 keys stay current
      SELECT d1.c_custkey, d1.c_mktsegment, d1.c_acctbal
      FROM d1 LEFT JOIN d2 USING (c_custkey)
      WHERE d2.c_custkey IS NULL OR d1.c_mktsegment = d2.c_mktsegment
      UNION ALL
      -- brand-new day-2 keys
      SELECT d2.c_custkey, d2.c_mktsegment, d2.c_acctbal
      FROM d2 LEFT JOIN d1 USING (c_custkey) WHERE d1.c_custkey IS NULL
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_current,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
    FROM final_current GROUP BY c_mktsegment
    """,
)


def _scd2cdf(spark, sf_dir):
    """Delta Change Data Feed analog (io/scd2.Scd2Table.read_changes):
    two real merges emit per-commit change rows (insert /
    update_preimage / update_postimage + _commit_version), and a
    per-segment rollup is maintained from the FEED ALONE — preimages
    contribute -1/-balance, inserts and postimages +1/+balance — never
    touching the snapshot. Equals the snapshot rollup because the feed
    is a complete account of every current-row transition; this is what
    downstream incremental consumers (ops/incremental.merge_rollups)
    read instead of diffing 100 TB snapshots. delta-spark jars remain
    absent in this env (re-probed; see README), so the feed rides the
    same merge-on-read parquet deltas the merges write."""
    import shutil

    from ..io.scd2 import Scd2Table

    base = _scratch("redp_scd2_cdf_gate")
    shutil.rmtree(base, ignore_errors=True)
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    day1 = c.filter(F.col("c_custkey") % 3 != 0)
    day2 = c.filter(F.col("c_custkey") % 2 == 0).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    tbl = Scd2Table(
        spark, base, key="c_custkey", tracked=["c_mktsegment"], order_col="c_acctbal"
    )
    tbl.merge(day1, batch_ts=F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    tbl.merge(day2, batch_ts=F.to_timestamp(F.lit("2024-01-02 00:00:00")))
    feed = tbl.read_changes(starting_version=1)
    sign = F.when(F.col("_change_type") == "update_preimage", F.lit(-1)).otherwise(
        F.lit(1)
    )
    return feed.groupBy("c_mktsegment").agg(
        F.sum(sign).cast("bigint").alias("n_current"),
        F.sum(sign.cast("decimal(18,2)") * F.col("c_acctbal").cast(DEC))
        .cast("double")
        .alias("acctbal_sum"),
    )


CATALOG["scd2_cdf_rollup"].fn = _scd2cdf

register(
    "io_partitioned_roundtrip",
    # S4/S5 in the gate: append + dynamic partitioned overwrite must be
    # lossless and overwrite ONLY the partitions present in the batch.
    # Day-2 rewrites priority '1-URGENT' rows with doubled totalprice;
    # every other partition must keep its day-1 rows untouched.
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                * CASE WHEN o_orderpriority = '1-URGENT' THEN 2 ELSE 1 END
                AS DOUBLE) AS total
    FROM orders GROUP BY o_orderpriority
    """,
)


def _diopart(spark, sf_dir):
    """S4 append + S5 dynamic partitioned overwrite, oracle-verified:
    write orders partitioned by priority, then overwrite ONE partition
    with modified rows (doubled totalprice). Dynamic mode must leave
    the other four partitions intact — static overwrite would delete
    them (the 100 TB footgun write_parquet guards against). Decimal
    sum so the re-read aggregate is bit-exact."""
    import shutil
    import tempfile

    from ..io.writers import write_parquet

    base = _scratch("redp_io_part_gate")
    shutil.rmtree(base, ignore_errors=True)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    write_parquet(o, base, mode="append", partition_by=["o_orderpriority"])
    day2 = o.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", (F.col("o_totalprice").cast("decimal(18,2)") * 2).cast("double")
    )
    write_parquet(day2, base, mode="overwrite", partition_by=["o_orderpriority"])
    back = spark.read.parquet(base)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


CATALOG["io_partitioned_roundtrip"].fn = _diopart

register(
    "io_jsonl_corrupt_scan",
    # S1 + N7 in the gate: every customer row goes out as a NESTED JSON
    # line, three corrupt lines are planted, and the explicit-schema
    # PERMISSIVE read must (a) recover every valid row through dot-path
    # struct access, (b) capture exactly the corrupt lines — never
    # silently drop or null-bleed them into the data.
    oracle="""
    SELECT c_custkey AS id, c_mktsegment AS segment, c_acctbal AS bal,
           FALSE AS is_corrupt
    FROM customer
    UNION ALL
    SELECT NULL, NULL, NULL, TRUE FROM range(3)
    """,
)


def _diojsonl(spark, sf_dir):
    """S1 Bronze JSONL scan, oracle-verified end to end: serialize
    customer to nested JSON lines ({id, info:{segment, bal}}), plant 3
    malformed lines, re-read with the explicit schema + PERMISSIVE
    corrupt capture (io/readers.read_any(..., "json", schema)), and project the
    nested fields back flat via dot paths (N7). The oracle is the
    source table itself plus exactly 3 corrupt markers — proving the
    JSONL round-trip is lossless AND that bad lines land in
    _corrupt_record instead of vanishing (the reference's inferred-
    schema read silently drops or re-types them, SURVEY §7.4.5)."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..io.readers import read_any

    scratch = _scratch("redp_jsonl_gate")
    shutil.rmtree(scratch, ignore_errors=True)
    c = t(spark, sf_dir, "customer")
    lines = c.select(
        F.to_json(
            F.struct(
                F.col("c_custkey").alias("id"),
                F.struct(
                    F.col("c_mktsegment").alias("segment"),
                    F.col("c_acctbal").alias("bal"),
                ).alias("info"),
            )
        ).alias("value")
    )
    lines.coalesce(1).write.text(scratch + "/good")
    bad = spark.createDataFrame(
        [("{not json",), ('{"id": "also-not-a-long"',), ("}{",)], "value string"
    )
    bad.coalesce(1).write.text(scratch + "/bad")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "info",
                T.StructType(
                    [
                        T.StructField("segment", T.StringType()),
                        T.StructField("bal", T.DoubleType()),
                    ]
                ),
            ),
        ]
    )
    back = read_any(spark, [scratch + "/good", scratch + "/bad"], "json", schema)
    return back.select(
        F.col("id"),
        F.col("info.segment").alias("segment"),
        F.col("info.bal").alias("bal"),
        F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
    )


CATALOG["io_jsonl_corrupt_scan"].fn = _diojsonl

register(
    "io_compact_roundtrip",
    # S7 in the gate: compaction (cluster-sorted rewrite + crash-safe
    # swap) must preserve the table EXACTLY.
    oracle="SELECT c_custkey, c_nationkey, c_acctbal FROM customer",
)


def _diocompact(spark, sf_dir):
    """S7 OPTIMIZE-equivalent, oracle-verified: fragment customer into
    32 tiny files, compact (sorted by nation for row-group data
    skipping, crash-safe atomic swap), and prove the re-read table is
    value-identical to the source — compaction changes layout, never
    data. Asserts the file count actually dropped so the gate cannot
    pass on a no-op."""
    import shutil
    import tempfile

    from ..io.maintenance import compact

    base = _scratch("redp_compact_gate")
    shutil.rmtree(base, ignore_errors=True)
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    c.repartition(32).write.parquet(base)
    n_before = sum(1 for f in os.listdir(base) if f.endswith(".parquet"))
    compact(spark, base, cluster_by=["c_nationkey"], target_file_mb=128)
    n_after = sum(1 for f in os.listdir(base) if f.endswith(".parquet"))
    assert n_after < n_before, (n_before, n_after)
    return spark.read.parquet(base).select("c_custkey", "c_nationkey", "c_acctbal")


CATALOG["io_compact_roundtrip"].fn = _diocompact

register(
    "io_targeted_delete",
    # right-to-be-forgotten: all events of user_ids divisible by 10 are
    # erased by rewrite; the surviving table must equal the filtered
    # source exactly — no over- or under-deletion. DELETE three-valued
    # logic: a NULL-key row is NOT deleted (predicate is NULL, not
    # TRUE), so the oracle keeps NULL user_ids too (none in testdata,
    # but the semantics must match delete_rows either way).
    oracle="""
    SELECT event_id, user_id FROM events
    WHERE user_id % 10 <> 0 OR user_id IS NULL
    """,
)


def _diodelete(spark, sf_dir):
    """Targeted delete (io/maintenance.delete_rows — the GDPR DELETE
    FROM rewrite): a scratch copy of events drops every row of the
    forgotten users through the same crash-safe swap as compact, and
    the surviving table hash-matches the filtered source. The
    compliance op a lakehouse cannot ship without."""
    import shutil
    import tempfile

    from ..io.maintenance import delete_rows

    base = _scratch("redp_delete_gate")
    shutil.rmtree(base, ignore_errors=True)
    ev = t(spark, sf_dir, "events").select("event_id", "user_id")
    ev.repartition(8).write.parquet(base)
    delete_rows(spark, base, F.col("user_id") % 10 != 0)
    return spark.read.parquet(base).select("event_id", "user_id")


CATALOG["io_targeted_delete"].fn = _diodelete

register(
    "io_zorder_roundtrip",
    # OPTIMIZE ZORDER analog in the gate: the Morton-code rewrite must
    # be lossless. The SKIPPING property (bounded per-file min/max on
    # EVERY clustered column) is asserted on real parquet footers in
    # tests/test_io.py::test_zorder_skips_on_both_dims.
    oracle="SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
)


def _diozorder(spark, sf_dir):
    """S7's second half — multi-dimensional clustering (io/maintenance.
    zorder_compact, the Delta OPTIMIZE ZORDER analog): fragment orders,
    Z-order-rewrite on (o_custkey, o_totalprice), prove the re-read
    table value-identical. Layout changes, data never does."""
    import shutil
    import tempfile

    from ..io.maintenance import zorder_compact

    base = _scratch("redp_zorder_gate")
    shutil.rmtree(base, ignore_errors=True)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    o.repartition(16).write.parquet(base)
    zorder_compact(spark, base, ["o_custkey", "o_totalprice"], bits=12, n_files=4)
    return spark.read.parquet(base).select("o_orderkey", "o_custkey", "o_totalprice")


CATALOG["io_zorder_roundtrip"].fn = _diozorder

register(
    "io_bucketed_join_gate",
    # bucketed fact-fact join INSIDE the gate: both tables are written
    # bucketed on the join key, the join is asserted Exchange-free (the
    # pre-shuffled-at-write-time contract — at 100 TB this is the
    # difference between shuffling both fact tables per query and
    # never), and the rollup over the bucketed join must equal the
    # plain SQL join of the raw tables.
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)


def _diobucket(spark, sf_dir):
    """S-layer bucketing in the gate (io/bucketing): orders and
    lineitem persist as same-bucketed managed tables, the fact-fact
    join PLANS WITHOUT AN EXCHANGE on either side (asserted here — a
    shuffling plan fails the query, not just a unit test), and the
    revenue rollup hash-matches the plain join of the raw parquet.
    Broadcast is disabled for the assertion window because at gate
    scale the planner would otherwise broadcast (also shuffle-free,
    but not the 100 TB fact-fact strategy being proven)."""
    import getpass

    from ..io.bucketing import bucketed_join, write_bucketed

    user = getpass.getuser().replace("-", "_")
    tl, tr = f"redp_{user}_b_orders_gate", f"redp_{user}_b_lineitem_gate"
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"), "o_orderpriority"
    )
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"), "l_extendedprice"
    )
    write_bucketed(o, tl, "key", 8)
    write_bucketed(li, tr, "key", 8)
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, tl, tr, "key")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        out = joined.groupBy("o_orderpriority").agg(
            F.count("*").cast("bigint").alias("n_lines"),
            dsum("l_extendedprice", "revenue"),
        )
        # materialize within the conf window so the asserted plan is
        # the executed plan
        rows = out.collect()
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    return spark.createDataFrame(
        rows, "o_orderpriority string, n_lines bigint, revenue double"
    )


CATALOG["io_bucketed_join_gate"].fn = _diobucket

register(
    "io_multiformat_scan",
    # the format layer inside the gate: the same customer data written
    # as CSV, JSON and ORC must read back through read_any to the
    # identical aggregate — one row per format, all three equal to the
    # parquet source the oracle reads.
    oracle="""
    SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
    FROM customer, (SELECT unnest(['csv', 'json', 'orc']) AS fmt)
    GROUP BY fmt
    """,
)


def _diomulti(spark, sf_dir):
    """Multi-format source layer (io/readers.read_any): customer writes
    to CSV (header), JSON lines, and ORC in scratch, reads back through
    the format-agnostic reader with an explicit schema, and every
    format's rollup must equal the parquet source exactly — the
    format-boundary losslessness check (CSV's string round-trip of
    decimals is exactly where silent precision loss would hide)."""
    import shutil

    from pyspark.sql import types as T

    from ..io.readers import read_any

    base = _scratch("redp_multifmt_gate")
    shutil.rmtree(base, ignore_errors=True)
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    frames = []
    for fmt in ("csv", "json", "orc"):
        path = os.path.join(base, fmt)
        w = c.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", "true")
        w.format(fmt).save(path)
        back = read_any(spark, path, fmt, schema=schema)
        frames.append(
            back.agg(
                F.lit(fmt).alias("fmt"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
                dsum("c_acctbal", "acctbal_sum"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


CATALOG["io_multiformat_scan"].fn = _diomulti

register(
    "sql_interface_q3",
    # the SQL-first surface in the gate: the same TPC-H Q3 shape runs
    # as a raw SQL string through sql.register_tables + spark.sql and
    # must equal the DataFrame twin's oracle (both compile to the same
    # Catalyst plan — proven by value here, by plan in
    # tests/test_sql_interface.py).
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
               AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
           o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15' AND l.l_shipdate > DATE '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey LIMIT 10
    """,
)


def _dsqlq3(spark, sf_dir):
    """SQL-string execution path (sql.py): TPC-H Q3 as raw ANSI SQL
    through the registered temp views — same Catalyst plan as the
    DataFrame twin (q3_top_revenue_orders), proven by value equality
    against the same-shape oracle."""
    from ..sql import sql as run_sql

    return run_sql(
        spark,
        sf_dir,
        """
        SELECT l.l_orderkey,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                        (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
                   AS DOUBLE) AS revenue,
               date_format(o.o_orderdate, 'yyyy-MM-dd') AS o_orderdate_s,
               o.o_orderpriority
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < DATE '1995-03-15' AND l.l_shipdate > DATE '1995-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l.l_orderkey LIMIT 10
        """,
    )


CATALOG["sql_interface_q3"].fn = _dsqlq3

register(
    "m2b_sequential_outlier_filter",
    # Faithful replica of the reference's SEQUENTIAL stateful outlier
    # pass (silver_etl_script.py:668-693, SURVEY hard-part 4): each
    # column's mean/stddev is computed over the rows SURVIVING the
    # previous column's filter, so loop order matters. Stats round to
    # 6 dp (the exactness convention) so the keep-band edges are
    # engine-identical; sigma=1.5 because the synthetic columns are
    # near-uniform (max |z| ~1.73) — a wider band would drop nothing
    # and the statefulness would be untested.
    oracle="""
    WITH s1 AS (
      SELECT round(AVG(l_extendedprice), 6) AS m, round(STDDEV_SAMP(l_extendedprice), 6) AS s
      FROM lineitem
    ),
    f1 AS (
      SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, l.l_quantity
      FROM lineitem l, s1
      WHERE l_extendedprice >= m - 1.5 * s AND l_extendedprice <= m + 1.5 * s
    ),
    s2 AS (
      SELECT round(AVG(l_quantity), 6) AS m, round(STDDEV_SAMP(l_quantity), 6) AS s
      FROM f1
    )
    SELECT f1.* FROM f1, s2
    WHERE l_quantity >= m - 1.5 * s AND l_quantity <= m + 1.5 * s
    """,
)


def _dseqoutlier(spark, sf_dir):
    """Sequential two-column outlier cleanse, reference-faithful: the
    second column's stats shift because the first filter already
    removed rows. Each round is one scalar aggregate broadcast back
    over the rows (no driver collect, unlike the reference's per-column
    .collect() loop) — the single-pass variant (m2_zscore_outliers,
    pipeline/silver.py) remains the recommended shape; this one exists
    for exact behavioral parity."""
    df = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
    )
    for c in ("l_extendedprice", "l_quantity"):
        stats = df.agg(
            F.round(F.avg(c), 6).alias("__m"),
            F.round(F.stddev_samp(c), 6).alias("__s"),
        )
        df = (
            df.crossJoin(F.broadcast(stats))
            .filter(
                (F.col(c) >= F.col("__m") - 1.5 * F.col("__s"))
                & (F.col(c) <= F.col("__m") + 1.5 * F.col("__s"))
            )
            .drop("__m", "__s")
        )
    return df


CATALOG["m2b_sequential_outlier_filter"].fn = _dseqoutlier

register(
    "incr_rollup_events",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
)


def _dincrroll(spark, sf_dir):
    """Incremental aggregate maintenance (ops/incremental): the events
    table splits into a 'historical' span and a 'new day' delta; the
    persisted rollup state merges with the delta's partial state and
    must equal the full-table aggregate EXACTLY (the oracle) — the
    maintain-don't-recompute contract. Money merges as integer cents
    so float order can never drift; min/max/count re-fold."""
    from ..ops.incremental import merge_rollups, mergeable_rollup

    ev = t(spark, sf_dir, "events").withColumn(
        "__cents", F.round(F.col("value") * 100).cast("bigint")
    )
    cutoff = F.lit("2024-01-25")
    aggs = {
        "n": ("*", "count"),
        "total_cents": ("__cents", "sum"),
        "min_value": ("value", "min"),
        "max_value": ("value", "max"),
    }
    hist = mergeable_rollup(ev.filter(F.col("ts") < cutoff), ["event_type"], aggs)
    delta = mergeable_rollup(ev.filter(F.col("ts") >= cutoff), ["event_type"], aggs)
    return merge_rollups([hist, delta], ["event_type"], aggs)


CATALOG["incr_rollup_events"].fn = _dincrroll

register(
    "incr_join_maintenance",
    # delta-join IVM rule: the maintained materialization (base join +
    # ΔA⋈B_old + A_old⋈ΔB + ΔA⋈ΔB) must equal the full recompute over
    # the complete tables — which is exactly what this oracle is.
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)


def _dincrjoin(spark, sf_dir):
    """Incremental JOIN maintenance (ops/incremental.join_delta — the
    Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB rule behind every IVM system): orders
    and customer each split into a base and an insert delta, the stored
    base join is maintained with the three delta joins, and the
    maintained result's rollup must equal a full recompute over the
    complete tables exactly. At 100 TB the delta joins shuffle
    |Δ|-sized inputs where the nightly recompute re-joins everything."""
    from ..ops.incremental import join_delta

    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    o_base, o_delta = o.filter(F.col("o_totalprice") < 150000), o.filter(
        F.col("o_totalprice") >= 150000
    )
    c_base, c_delta = c.filter(F.col("custkey") % 3 != 0), c.filter(
        F.col("custkey") % 3 == 0
    )
    materialized = o_base.join(c_base, "custkey")
    maintained = materialized.unionByName(
        join_delta(o_base, c_base, o_delta, c_delta, "custkey")
    )
    return maintained.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        dsum("o_totalprice", "revenue"),
    )


CATALOG["incr_join_maintenance"].fn = _dincrjoin

register(
    "table_diff_customer",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_custkey % 2 <> 0 THEN 'removed'
                WHEN c_custkey % 10 = 0 THEN 'changed'
                ELSE 'unchanged' END AS diff_status
    FROM customer
    """,
)


def _dtdiff(spark, sf_dir):
    """Table-version diff (ops/incremental.table_diff) — migration /
    replication / SCD2-audit reconciliation: customer vs a derived v2
    that drops odd keys and rewrites the segment for custkey%10==0.
    Every key's added/removed/changed/unchanged status hash-matches the
    rule-based oracle; one full-outer key join, null-safe compares."""
    from ..ops.incremental import table_diff

    c = t(spark, sf_dir, "customer")
    v2 = c.filter(F.col("c_custkey") % 2 == 0).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    return table_diff(c, v2, "c_custkey", compare_cols=["c_mktsegment", "c_acctbal"])


CATALOG["table_diff_customer"].fn = _dtdiff

register(
    "dq_observed_singlepass",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returns,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    """,
)


def _dqobs(spark, sf_dir):
    """ZERO-extra-scan DQ metrics (quality/checks.observed_metrics):
    the counters attach to the frame via Spark's Observation API and
    compute DURING the production materialization (a noop write here) —
    no second job over the table, unlike the reference's one-job-per-
    check AND unlike our own QualityChecker's one extra aggregate pass.
    The observed values are then surfaced as a 1-row frame and must
    hash-match the direct SQL aggregate."""
    from ..quality.checks import observed_metrics

    li = t(spark, sf_dir, "lineitem")
    observed, obs = observed_metrics(
        li,
        {
            "rows": F.count(F.lit(1)),
            "returns": F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).cast("bigint"),
            "total_qty": F.sum(F.col("l_quantity").cast("decimal(18,2)")),
        },
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["rows"]), int(m["returns"]), float(m["total_qty"]))],
        "rows bigint, returns bigint, total_qty double",
    )


CATALOG["dq_observed_singlepass"].fn = _dqobs

_PSI_ORACLE = f"""
    WITH sp AS (
      SELECT CAST(value AS DOUBLE) AS v,
             {_HASH01_SQL.format(key="event_id || 'psi'")} AS u
      FROM events
    ),
    expd AS (SELECT v FROM sp WHERE u < 0.5),
    actd AS (SELECT v * 1.15 + 5 AS v FROM sp WHERE u >= 0.5),
    edges AS (
      SELECT [quantile_cont(v, 0.1), quantile_cont(v, 0.2), quantile_cont(v, 0.3),
              quantile_cont(v, 0.4), quantile_cont(v, 0.5), quantile_cont(v, 0.6),
              quantile_cont(v, 0.7), quantile_cont(v, 0.8), quantile_cont(v, 0.9)] AS es
      FROM expd
    ),
    ec AS (
      SELECT len(list_filter(es, e -> v >= e)) AS bucket, COUNT(*) AS n_expected
      FROM expd, edges GROUP BY 1
    ),
    ac AS (
      SELECT len(list_filter(es, e -> v >= e)) AS bucket, COUNT(*) AS n_actual
      FROM actd, edges GROUP BY 1
    ),
    tot AS (SELECT (SELECT COUNT(*) FROM expd) AS ne, (SELECT COUNT(*) FROM actd) AS na),
    filled AS (
      SELECT r.range AS bucket,
             COALESCE(ec.n_expected, 0) AS n_expected,
             COALESCE(ac.n_actual, 0) AS n_actual
      FROM range(10) r
      LEFT JOIN ec ON ec.bucket = r.range
      LEFT JOIN ac ON ac.bucket = r.range
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(n_expected AS BIGINT) AS n_expected,
           CAST(n_actual AS BIGINT) AS n_actual,
           ROUND((GREATEST(n_expected / CAST(ne AS DOUBLE), 1e-6)
                  - GREATEST(n_actual / CAST(na AS DOUBLE), 1e-6))
                 * ROUND(LN(GREATEST(n_expected / CAST(ne AS DOUBLE), 1e-6)
                            / GREATEST(n_actual / CAST(na AS DOUBLE), 1e-6)), 6), 6)
             AS psi_contrib
    FROM filled, tot
    """

register(
    "dq_psi_drift_report",
    # PSI drift between a deterministic hash-split "training" sample
    # and a deliberately shifted "serving" sample (value*1.15 + 5):
    # bucket edges are the EXPECTED side's exact deciles, proportions
    # are exact ratios, and the one libm call (ln) rounds to 6 dp —
    # the engine-wide convention — so every per-bucket term hash-matches.
    # Shared with the streaming twin evt_stream_psi_drift_now, which
    # must land on the identical report.
    oracle=_PSI_ORACLE,
)


def _dpsi(spark, sf_dir):
    """Population Stability Index report (quality/drift.psi_report):
    the expected side is a deterministic sha2 hash-split of event
    values, the actual side the complement SHIFTED by value*1.15 + 5 —
    so the report must show real drift, bucket by bucket. Edges are the
    expected side's exact deciles (one 9-value broadcast row), each
    side then pays ONE bucket-count aggregate; the monitoring query a
    feature store runs per column per day."""
    from ..ops.sampling import hash_uniform01
    from ..quality.drift import psi_report

    e = t(spark, sf_dir, "events").select("event_id", "value")
    u = hash_uniform01(F.col("event_id"), "psi")
    expd = e.filter(u < 0.5).select(F.col("value").cast("double").alias("v"))
    actd = e.filter(u >= 0.5).select(
        (F.col("value").cast("double") * 1.15 + 5).alias("v")
    )
    return psi_report(expd, actd, "v", n_buckets=10)


CATALOG["dq_psi_drift_report"].fn = _dpsi

register(
    "evt_stream_psi_drift_now",
    # streaming twin: the ACTUAL side arrives as a Structured Streaming
    # file stream; bucket occupancy aggregates in complete mode against
    # the expected side's edge literals (the k-row "model broadcast"
    # pattern, like IVF centroids), and the PSI fold runs downstream on
    # the 10-row counts table. Must equal the batch report exactly —
    # the same oracle checks both.
    oracle=_PSI_ORACLE,
)


def _dpsistream(spark, sf_dir):
    """Streaming drift monitor: the serving sample streams through a
    micro-batch bucket-count aggregation (availableNow, complete mode,
    memory sink) while the reference side stays batch; psi_from_counts
    folds the two tiny counts tables into the identical per-bucket
    report as dq_psi_drift_report. The feature-store monitoring loop —
    reference stats computed once at training time, serving stream
    audited continuously — proven by value equality, not claimed."""
    from ..ops.sampling import hash_uniform01
    from ..quality.drift import bucket_counts, psi_from_counts, quantile_edges

    e = t(spark, sf_dir, "events").select("event_id", "value")
    u = hash_uniform01(F.col("event_id"), "psi")
    expd = e.filter(u < 0.5).select(F.col("value").cast("double").alias("v"))
    edges = quantile_edges(expd, "v", 10)
    e_cnt = bucket_counts(expd, "v", edges, 10, "n_expected")
    n_e = expd.count()
    # edge literals for the streaming projection (1-row bounded collect,
    # the centroid-broadcast pattern — streaming plans can't reference a
    # batch frame without a join, and literals keep the stream stateless
    # below the one aggregation)
    edge_vals = edges.collect()[0]
    edge_arr = F.array(*[F.lit(float(edge_vals[f"__e{i}"])) for i in range(9)])

    src = _stream_file_source(
        spark, sf_dir, "events.parquet", _events_stream_schema(ts_ntz=True)
    )
    su = hash_uniform01(F.col("event_id"), "psi")
    sv = F.col("value").cast("double") * 1.15 + 5
    bucket = F.aggregate(
        edge_arr, F.lit(0), lambda acc, ed: acc + F.when(sv >= ed, 1).otherwise(0)
    )
    stream_counts = (
        src.filter(su >= 0.5)
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_actual"))
    )
    sink = _run_stream_to_memory(
        stream_counts, "evt_stream_psi_drift_now_sink", "complete"
    )
    n_a = int(sink.agg(F.sum("n_actual")).collect()[0][0] or 0)
    return psi_from_counts(e_cnt, sink, n_e, n_a, 10)


CATALOG["evt_stream_psi_drift_now"].fn = _dpsistream

register(
    "dq_referential_audit",
    oracle="""
    SELECT 'lineitem->orders' AS fk, CAST(COUNT(*) AS BIGINT) AS orphans
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer->nation', CAST(COUNT(*) AS BIGINT)
    FROM customer c WHERE NOT EXISTS (
      SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    """,
)


def _dfkaudit(spark, sf_dir):
    """Whole-schema referential-integrity audit: every foreign-key edge
    of the star schema checked as a LEFT ANTI count in one result
    (J3 generalized from one edge to the graph). Each anti-join is
    key-partitioned; the dim sides broadcast. The report a nightly DQ
    job would alert on."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey")

    def orphans(fact, dim, cond, name):
        return (
            fact.join(dim, cond, "left_anti")
            .agg(F.count("*").cast("bigint").alias("orphans"))
            .select(F.lit(name).alias("fk"), "orphans")
        )

    return (
        orphans(li, o, li.l_orderkey == o.o_orderkey, "lineitem->orders")
        .unionByName(orphans(o, c, o.o_custkey == c.c_custkey, "orders->customer"))
        .unionByName(orphans(c, n, c.c_nationkey == n.n_nationkey, "customer->nation"))
    )


CATALOG["dq_referential_audit"].fn = _dfkaudit

register(
    "evt_error_rate_hourly",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           CAST(COUNT(*) AS BIGINT) AS events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
           round(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS error_rate
    FROM events GROUP BY 1
    """,
)


def _derrrate(spark, sf_dir):
    """Operational monitoring rollup: hourly event volume + error rate
    in one conditional aggregate (the alerting query a pipeline SLO
    dashboard polls). Rate rounds to 6 dp; the counts are exact."""
    ev = t(spark, sf_dir, "events")
    errs = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast("bigint")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("events"),
            errs.alias("errors"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "events",
            "errors",
            F.round(F.col("errors").cast("double") / F.col("events"), 6).alias(
                "error_rate"
            ),
        )
    )


CATALOG["evt_error_rate_hourly"].fn = _derrrate

register(
    "quarantine_report_customer",
    # first-matching-rule priority: negative balance outranks phone
    # format outranks short comment — the CASE order IS the rule order
    oracle="""
    SELECT COALESCE(CASE
             WHEN c_acctbal < 0 THEN 'negative_balance'
             WHEN NOT regexp_full_match(c_name, 'Customer#[0-9]{9}') THEN 'bad_name_format'
             WHEN c_custkey % 7 = 0 AND c_acctbal < 500 THEN 'audit_sample'
           END, 'clean') AS quarantine_reason,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer GROUP BY 1
    """,
)


def _dquarantine(spark, sf_dir):
    """Quarantine-rule family made real (the reference declares
    QUARANTINE_RULES, schema_config.py:380-401, but never enforces
    them): ordered first-match-wins rules tag rows in ONE map-side
    pass; this report is the per-reason rollup
    (quality/quarantine.quarantine_report). quarantine_split gives the
    (clean, quarantined) frames for routing to separate sinks."""
    from ..quality.quarantine import quarantine_report

    c = t(spark, sf_dir, "customer")
    rules = [
        ("negative_balance", F.col("c_acctbal") < 0),
        ("bad_name_format", ~F.col("c_name").rlike(r"^Customer#[0-9]{9}$")),
        ("audit_sample", (F.col("c_custkey") % 7 == 0) & (F.col("c_acctbal") < 500)),
    ]
    return quarantine_report(c, rules)


CATALOG["quarantine_report_customer"].fn = _dquarantine

register(
    "scd2_stream_upsert",
    # Same two-run semantics (and oracle) as scd2_two_run_versions, but
    # driven through Structured Streaming: each micro-batch lands via
    # foreachBatch -> Scd2Table.merge — the streaming upsert pipeline
    # the reference runs as daily Delta MERGE Airflow jobs.
    oracle="""
    WITH c AS (SELECT c_custkey, c_mktsegment FROM customer),
    d1 AS (SELECT * FROM c WHERE c_custkey % 3 <> 0),
    d2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment
      FROM c WHERE c_custkey % 2 = 0
    )
    SELECT d1.c_custkey, d1.c_mktsegment, FALSE AS is_current,
           '2024-01-01' AS valid_from_d, '2024-01-02' AS valid_to_d
    FROM d1 JOIN d2 USING (c_custkey) WHERE d1.c_mktsegment <> d2.c_mktsegment
    UNION ALL
    SELECT d2.c_custkey, d2.c_mktsegment, TRUE, '2024-01-02', NULL
    FROM d1 JOIN d2 USING (c_custkey) WHERE d1.c_mktsegment <> d2.c_mktsegment
    UNION ALL
    SELECT d1.c_custkey, d1.c_mktsegment, TRUE, '2024-01-01', NULL
    FROM d1 LEFT JOIN d2 USING (c_custkey)
    WHERE d2.c_custkey IS NULL OR d1.c_mktsegment = d2.c_mktsegment
    UNION ALL
    SELECT d2.c_custkey, d2.c_mktsegment, TRUE, '2024-01-02', NULL
    FROM d2 LEFT JOIN d1 USING (c_custkey) WHERE d1.c_custkey IS NULL
    """,
)


def _dscd2stream(spark, sf_dir):
    """Streaming SCD2 upsert in the gate: the day-1 and day-2 customer
    snapshots are written as two files whose mtimes order them, read
    back as a FILE STREAM one file per micro-batch, and applied through
    foreachBatch -> Scd2Table.merge (streaming/events.scd2_foreach_batch
    shape) with the batch id mapping to a pinned batch timestamp. The
    final version table must hash-match the same pure-SQL merge replica
    as the batch twin — one merge definition, two execution modes."""
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import types as T

    from ..io.scd2 import Scd2Table

    scratch = _scratch("redp_scd2_stream_gate")
    shutil.rmtree(scratch, ignore_errors=True)
    src_dir = os.path.join(scratch, "incoming")
    os.makedirs(src_dir)
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    day1 = c.filter(F.col("c_custkey") % 3 != 0).withColumn("batch_day", F.lit(1))
    day2 = (
        c.filter(F.col("c_custkey") % 2 == 0)
        .withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % 5 == 0, F.lit("CHANGED")).otherwise(
                F.col("c_mktsegment")
            ),
        )
        .withColumn("batch_day", F.lit(2))
    )
    # one single-part file per day; mtime gap orders the micro-batches
    for i, day in enumerate((day1, day2)):
        p = os.path.join(src_dir, f"day{i + 1}")
        day.coalesce(1).write.parquet(p)
        now = _time.time()
        for dp, _, fs in os.walk(p):
            for f in fs:
                os.utime(os.path.join(dp, f), (now + i * 10, now + i * 10))
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_mktsegment", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("batch_day", T.IntegerType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir + "/day*")
    )
    tbl = Scd2Table(
        spark,
        os.path.join(scratch, "table"),
        key="c_custkey",
        tracked=["c_mktsegment"],
        order_col="c_acctbal",
    )

    def apply(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        # one merge PER planted day, in day order: even if the source
        # ever coalesced both files into one trigger, the two-merge
        # semantics (close day-1 versions, then apply day-2) are
        # preserved — merging a mixed batch once would let keep_latest
        # pick an arbitrary winner between same-key day rows
        days = sorted(
            r["batch_day"]
            for r in batch_df.select("batch_day").distinct().collect()
        )
        for day in days:
            tbl.merge(
                batch_df.filter(F.col("batch_day") == day).drop("batch_day"),
                batch_ts=F.to_timestamp(F.lit(f"2024-01-0{day} 00:00:00")),
            )

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("scd2 stream did not finish in 300s")
    return tbl.read().select(
        "c_custkey",
        "c_mktsegment",
        "is_current",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from_d"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to_d"),
    )


CATALOG["scd2_stream_upsert"].fn = _dscd2stream

