"""Text-analysis operators for training-data pipelines (BASELINE.json
north-star): language ID, quality scoring, token counting, document
fingerprinting. All built-in-function expressions (JVM-side, codegen-able,
cross-engine reproducible) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword seed lists for the n-gram/stopword heuristic.
# Order matters: ties resolve in this order (deterministic argmax).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "a", "is"],
    "es": ["el", "la", "de", "que", "y", "los", "es"],
    "de": ["der", "die", "und", "das", "ein", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "un", "est"],
}


def _stopword_hits(c: Column, words: list[str]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(c), F.lit(pat))


def lang_scores(c: Column) -> dict[str, Column]:
    return {lang: _stopword_hits(c, words) for lang, words in LANG_STOPWORDS.items()}


def lang_id(c: Column) -> Column:
    """Stopword-hit-count language ID with deterministic tie-break in
    LANG_STOPWORDS order; 'und' when no stopword hits at all."""
    s = lang_scores(c)
    langs = list(s)
    total = sum(s.values())
    out = F.when(total == 0, F.lit("und"))
    for i, lang in enumerate(langs):
        cond = None
        for other in langs[i + 1 :]:
            ge = s[lang] >= s[other]
            cond = ge if cond is None else (cond & ge)
        out = out.when(cond if cond is not None else F.lit(True), F.lit(lang))
    return out


def token_count(c: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(c), r"\s+"))


def word_tokens(c: Column) -> Column:
    """BPE-ish word/punct tokenization: letter-digit runs or single
    punctuation marks (regex analogue of a GPT-2-style pre-tokenizer)."""
    return F.regexp_extract_all(F.lower(c), F.lit(r"([a-z0-9]+|[^\sa-z0-9])"), 1)


def quality_features(c: Column) -> dict[str, Column]:
    """Heuristic document-quality signals: length, token stats, punctuation
    and stopword ratios. Deterministic arithmetic only."""
    n_chars = F.length(c)
    toks = token_count(c)
    punct = F.regexp_count(c, F.lit(r"[.,;:!?]"))
    stop = _stopword_hits(c, LANG_STOPWORDS["en"])
    return {
        "n_chars_measured": n_chars,
        "n_tokens": toks,
        "avg_token_len": n_chars.cast("double") / toks,
        "punct_ratio": punct.cast("double") / n_chars,
        "stopword_ratio": stop.cast("double") / toks,
    }


def quality_score(c: Column) -> Column:
    """Composite [0,1] quality score: rewards reasonable length and
    stopword presence, penalizes punctuation soup."""
    f = quality_features(c)
    len_score = F.least(f["n_tokens"].cast("double") / F.lit(50.0), F.lit(1.0))
    stop_score = F.least(f["stopword_ratio"] * F.lit(5.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - f["punct_ratio"] * F.lit(10.0), F.lit(0.0))
    return len_score * F.lit(0.4) + stop_score * F.lit(0.3) + punct_pen * F.lit(0.3)


def normalize_for_fingerprint(c: Column) -> Column:
    """Canonical text form: lowercase, strip non-alphanumerics (keep
    spaces), collapse whitespace."""
    x = F.regexp_replace(F.lower(c), r"[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(x, r" +", " "))


def fingerprint(c: Column) -> Column:
    """sha2-256 fingerprint of the normalized text — exact-dup key that
    survives case/punctuation noise."""
    return F.sha2(normalize_for_fingerprint(c), 256)


# --- PII scrubbing (corpus-safety pass) -------------------------------------
# Patterns are deliberately RE2-compatible (no lookarounds) so the same
# regex runs identically in Spark (Java regex) and the DuckDB oracle.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d .-]{7,}\d", "<PHONE>"),
]


def redact_pii(c: Column) -> Column:
    """Replace URLs / emails / IPv4s / phone-shaped digit runs with
    typed placeholder tokens, in a fixed order (URL first so an email
    inside a URL redacts as part of the URL). A chain of JVM
    regexp_replace calls — no UDF, pushes through codegen."""
    out = c
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Boilerplate/repetition detector (the Gopher/Dolma-style filter):
    fraction of a document's token bigrams taken by its single most
    frequent bigram, plus distinct-token fraction. High top-bigram
    fraction or low distinct fraction flags pathological repetition.

    One explode + one (id, bigram) aggregate + one per-id aggregate —
    entirely JVM-side, partial-aggregated before both shuffles."""
    toks = df.select(
        F.col(id_col),
        F.split(F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " "), " ").alias("__tk"),
    ).filter((F.size("__tk") > 1) & (F.element_at("__tk", 1) != F.lit("")))
    tk = F.col("__tk")
    bigrams = toks.select(
        F.col(id_col),
        F.size(tk).alias("__n_tok"),
        F.array_size(F.array_distinct(tk)).alias("__n_distinct"),
        F.explode(
            F.zip_with(
                F.slice(tk, 1, F.size(tk) - 1),
                F.slice(tk, 2, F.size(tk) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("__bg"),
    )
    per_bg = bigrams.groupBy(id_col, "__bg").agg(
        F.count("*").alias("__c"),
        F.first("__n_tok").alias("__n_tok"),
        F.first("__n_distinct").alias("__n_distinct"),
    )
    return per_bg.groupBy(id_col).agg(
        (
            F.max("__c").cast("double")
            / (F.first("__n_tok") - F.lit(1)).cast("double")
        ).alias("top_bigram_frac"),
        (F.first("__n_distinct").cast("double") / F.first("__n_tok").cast("double")).alias(
            "distinct_token_frac"
        ),
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-document top-k TF-IDF terms: tf(doc, term) * ln((N+1)/(df+1)),
    idf rounded to 6 decimals (ln is the one libm-dependent function —
    see the queries.py exactness rules).

    Plan shape: one (id, term) hash aggregate for tf, one (term)
    aggregate for document frequency (both partial-aggregated), the
    corpus size N as a broadcast scalar, a term-keyed equi-join of the
    two aggregates (co-partitioned on term at scale), and a per-doc
    top-k window. No driver collection, no O(N^2)."""
    from .dedup import norm_tokens

    toks = df.select(
        F.col(id_col), F.explode(norm_tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * F.round(
                F.log((F.col("__n") + F.lit(1)).cast("double") / (F.col("df") + F.lit(1))),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.col("term"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(id_col, "term", "tfidf")
    )


def hashing_trick_embedding(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", dim: int = 64
) -> DataFrame:
    """Text -> dense vector WITHOUT a model: the hashing trick
    (Weinberger et al.) — each token maps to ``pmod(hash(token), dim)``
    and the L2-normalized bucket-count histogram is the embedding. The
    cheap, deterministic featurizer that slots straight into the ANN /
    near-dup operators when no learned encoder is available (the text
    analogue of multimodal.embed_media's byte-bigram stub, but exact
    and cross-engine reproducible: the token hash is the first 8 hex
    chars of sha256, so a SQL engine derives identical vectors).

    Plan: explode tokens (map-side), ONE (id, bucket) partial-agg
    count, one per-id rollup building the dense array via
    map_from_entries + a sequence transform — no UDF, no collect.
    Returns (id_col, embedding array<double>)."""
    # coalesce first: a NULL text splits to a NULL array, which explode
    # drops entirely — NULL-text docs must survive as zero vectors just
    # like empty-string docs do
    tok = F.explode(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
    ).alias("__tok")
    h = F.pmod(
        F.conv(F.substring(F.sha2(F.col("__tok"), 256), 1, 8), 16, 10).cast("bigint"),
        F.lit(dim),
    ).cast("int")
    # empty tokens hash to NULL instead of being filtered out: every doc
    # then keeps >= 1 count row (token-less docs keep exactly the NULL
    # row), so zero-vector docs survive the pipeline WITHOUT a second
    # scan + distinct + re-join; the NULL entries drop during the dense
    # build below
    counts = (
        df.select(F.col(id_col), tok)
        .select(id_col, F.when(F.col("__tok") != "", h).alias("__h"))
        .groupBy(id_col, "__h")
        .agg(F.count("*").alias("__c"))
    )
    entries = F.filter(
        F.collect_list(F.struct("__h", "__c")), lambda s: s["__h"].isNotNull()
    )
    dense = (
        counts.groupBy(id_col)
        .agg(F.map_from_entries(entries).alias("__m"))
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(
                    F.element_at("__m", i.cast("int")), F.lit(0)
                ).cast("double"),
            ).alias("__cnt"),
        )
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform("__cnt", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    safe = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    return dense.select(
        id_col, F.transform("__cnt", lambda x: x / safe).alias("embedding")
    )
