"""Text-analysis operators over the ``documents`` table.

Language ID (marker-word heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting. All pure
column expressions — whole-stage codegen, map-only, no shuffle except
the fingerprint group-by — so they scale linearly with input bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_streams_spark.functions import (
    round6_micro,
    round6_ratio,
    sql_round6_micro,
    sql_round6_ratio,
    tokens,
)
from datafusion_streams_spark.catalog import load_documents, table
from datafusion_streams_spark.operators import query

# Marker stopwords per language (tiny, deterministic; a real system
# would use character n-gram profiles — the operator shape is the same).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "de", "los", "que"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "les", "des", "est", "une"],
    "zh": ["de5", "le5", "shi4"],  # romanized placeholders; fixture text is ASCII
}
LANG_ORDER = ["en", "es", "de", "fr", "zh"]

STOPWORDS = LANG_MARKERS["en"]


def _marker_count(toks: Column, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("long")


def _marker_count_sql(markers: list[str]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"CAST(len(list_filter(tk, t -> list_contains([{lst}], t))) AS BIGINT)"


# ---------------------------------------------------------------------------
# language ID
# ---------------------------------------------------------------------------


def _langid_oracle() -> str:
    counts = ",\n        ".join(
        f"{_marker_count_sql(LANG_MARKERS[lang])} AS {lang}_hits" for lang in LANG_ORDER
    )
    # argmax with fixed priority order (first language wins ties), 'und' if all zero
    conds = []
    for i, lang in enumerate(LANG_ORDER):
        others = [f"{lang}_hits >= {o}_hits" for o in LANG_ORDER if o != lang]
        conds.append(f"WHEN {lang}_hits > 0 AND {' AND '.join(others)} THEN '{lang}'")
    case = "CASE " + " ".join(conds) + " ELSE 'und' END"
    return rf"""
WITH toks AS (
    SELECT doc_id, lang, regexp_split_to_array(lower(text), '\s+') AS tk FROM documents
),
scored AS (
    SELECT doc_id, lang,
        {counts}
    FROM toks
)
SELECT doc_id, lang, {', '.join(f'{lang}_hits' for lang in LANG_ORDER)},
       {case} AS pred_lang
FROM scored
"""


@query("text_langid", oracle=_langid_oracle(), tags=("text", "langid"))
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID with a deterministic argmax (priority
    order breaks ties, 'und' when nothing matches)."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    d = docs.select(
        "doc_id",
        "lang",
        *[_marker_count(toks, LANG_MARKERS[lang]).alias(f"{lang}_hits") for lang in LANG_ORDER],
    )
    pred = None
    for lang in LANG_ORDER:
        cond = (F.col(f"{lang}_hits") > 0)
        for other in LANG_ORDER:
            if other != lang:
                cond = cond & (F.col(f"{lang}_hits") >= F.col(f"{other}_hits"))
        branch = F.when(cond, F.lit(lang))
        pred = branch if pred is None else pred.when(cond, F.lit(lang))
    pred = pred.otherwise(F.lit("und"))
    return d.select(
        "doc_id",
        "lang",
        *[f"{lang}_hits" for lang in LANG_ORDER],
        pred.alias("pred_lang"),
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_QUALITY_ORACLE = rf"""
WITH base AS (
    SELECT doc_id,
        regexp_split_to_array(lower(text), '\s+') AS tk,
        CAST(length(text) AS BIGINT) AS n_chars_calc,
        CAST(length(regexp_replace(text, '[\w\s]', '', 'g')) AS BIGINT) AS n_punct
    FROM documents
),
m AS (
    SELECT doc_id, n_chars_calc, n_punct,
        CAST(len(tk) AS BIGINT) AS n_tokens,
        {_marker_count_sql(STOPWORDS)} AS n_stop,
        CAST(list_reduce(list_transform(tk, t -> length(t)), (a, b) -> a + b) AS BIGINT) AS token_chars
    FROM base
)
SELECT doc_id, n_tokens, n_chars_calc, n_punct, n_stop,
    CAST(token_chars AS DOUBLE) / n_tokens AS avg_token_len,
    least(n_tokens / 100.0, 1.0) * 0.5
      + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
      + (1.0 - CAST(n_punct AS DOUBLE) / n_chars_calc) * 0.2 AS quality
FROM m
"""


@query("text_quality_score", oracle=_QUALITY_ORACLE, tags=("text", "quality"))
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality: length saturation + stopword ratio +
    punctuation penalty. Every term is a single-op float expression
    mirrored verbatim in the oracle (identical FP results)."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    base = docs.select(
        "doc_id",
        toks.alias("tk"),
        F.length("text").cast("long").alias("n_chars_calc"),
        F.length(F.regexp_replace("text", r"[\w\s]", "")).cast("long").alias("n_punct"),
    )
    m = base.select(
        "doc_id",
        "n_chars_calc",
        "n_punct",
        F.size("tk").cast("long").alias("n_tokens"),
        _marker_count(F.col("tk"), STOPWORDS).alias("n_stop"),
        F.aggregate(F.transform("tk", F.length), F.lit(0), lambda a, b: a + b)
        .cast("long")
        .alias("token_chars"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "n_chars_calc",
        "n_punct",
        "n_stop",
        (F.col("token_chars").cast("double") / F.col("n_tokens")).alias("avg_token_len"),
        (
            F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.5
            + (F.col("n_stop").cast("double") / F.col("n_tokens")) * 0.3
            + (F.lit(1.0) - F.col("n_punct").cast("double") / F.col("n_chars_calc")) * 0.2
        ).alias("quality"),
    )


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------

_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_TOKEN_ORACLE = rf"""
SELECT
    doc_id,
    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)           AS ws_tokens,
    CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)          AS bpe_tokens,
    CAST(len(list_distinct(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT) AS distinct_tokens,
    CAST(length(text) AS BIGINT)                                             AS n_chars_calc
FROM documents
"""


@query("text_token_stats", oracle=_TOKEN_ORACLE, tags=("text", "tokens"))
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counts (the cheap proxy every
    training-data pipeline needs before the real tokenizer runs)."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)).cast("long").alias("bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("distinct_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
    )


# ---------------------------------------------------------------------------
# document fingerprinting
# ---------------------------------------------------------------------------

_FINGERPRINT_ORACLE = r"""
WITH fp AS (
    SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(lower(text), '\s+'))), ' ')) AS fingerprint
    FROM documents
)
SELECT fingerprint, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_docs
FROM fp GROUP BY fingerprint
"""


@query("text_fingerprint", oracle=_FINGERPRINT_ORACLE, tags=("text", "fingerprint", "dedup"))
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive bag-of-words fingerprint: md5 over the sorted
    distinct token set. Catches re-ordered copies that exact hashing
    misses and costs one map + one digest-keyed shuffle."""
    docs = table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " "))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


_EXPLODE_ORACLE = r"""
WITH tok AS (
    SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS token
    FROM documents
)
SELECT token, COUNT(*) AS doc_freq
FROM tok
GROUP BY token
ORDER BY doc_freq DESC, token
LIMIT 20
"""


@query("lateral_explode_tokens", oracle=_EXPLODE_ORACLE, tags=("text", "explode", "topk"))
def lateral_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode (LATERAL VIEW) -> document-frequency top-20.

    Scale: explode is map-side; the token group-by shuffles uniform
    hash keys; final top-20 is TakeOrderedAndProject. This is the
    vocabulary/document-frequency primitive under TF-IDF and stopword
    mining."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.array_distinct(tokens("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "token")
        .limit(20)
    )


_PII_ORACLE = r"""
WITH scrubbed AS (
    SELECT doc_id,
        regexp_replace(
            regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b\d{3}[-. ]?\d{3}[-. ]?\d{4}\b', '<PHONE>', 'g') AS clean_text,
        text
    FROM documents
)
SELECT doc_id,
    CAST(length(text) - length(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g')) AS BIGINT) AS email_chars,
    length(clean_text) AS clean_len,
    md5(clean_text) AS clean_digest
FROM scrubbed
"""


@query("text_pii_scrub", oracle=_PII_ORACLE, tags=("text", "pii"))
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email/phone patterns replaced with typed tokens —
    the redaction pass every training-data pipeline runs. Pure
    regexp_replace (codegen, map-only); the digest proves byte-exact
    scrubbing against the oracle."""
    docs = table(spark, sf_dir, "documents")
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\b\d{3}[-. ]?\d{3}[-. ]?\d{4}\b"
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        (F.length("text") - F.length(F.regexp_replace(F.col("text"), email_re, "")))
        .cast("long")
        .alias("email_chars"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_digest"),
    )


_TFIDF_ORACLE = r"""
WITH tok AS (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
),
df AS (
    SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
weighted AS (
    SELECT tf.doc_id, tf.term,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
),
ranked AS (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
    ) AS BIGINT) AS rn
    FROM weighted
)
SELECT doc_id, term, tfidf, rn FROM ranked WHERE rn <= 3
"""


@query("text_tfidf_topterms", oracle=_TFIDF_ORACLE, tags=("text", "tfidf", "window"))
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document.

    Scale: two shuffles (term-frequency by (doc, term); document
    frequency by term, broadcast back) + one window. ln() is rounded to
    6dp before ranking (libm last-ulp differences), with a term-name
    tiebreak, so the top-k set is engine-stable.
    """
    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    weighted = (
        tf.join(F.broadcast(dfreq), "term")
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        weighted.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# document chunking (training-window extraction)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 40
CHUNK_STRIDE = 30

_CHUNK_ORACLE = rf"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk FROM documents
),
c AS (
    SELECT doc_id, tk,
           unnest(range(1, greatest(len(tk), 1) + 1, {CHUNK_STRIDE})) AS start
    FROM t
)
SELECT doc_id,
       CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(tk, start, start + {CHUNK_TOKENS} - 1)) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(tk, start, start + {CHUNK_TOKENS} - 1), ' ') AS chunk_text
FROM c
"""


@query("text_chunking", oracle=_CHUNK_ORACLE, tags=("text", "chunking", "lateral"))
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token windows (40 tokens, stride 30) —
    the training-example extraction step of an LLM data pipeline.

    Map-only: tokenize once, explode the stride-spaced start offsets,
    slice per window — no shuffle at any scale; output is ~n_tokens/30
    rows per document regardless of cluster size. Trailing windows are
    shorter (kept: they carry the document tail).
    """
    docs = load_documents(spark, sf_dir)
    base = docs.select("doc_id", tokens("text").alias("tk"))
    chunks = base.select(
        "doc_id",
        "tk",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("tk"), F.lit(1)), F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    piece = F.slice(F.col("tk"), F.col("start"), CHUNK_TOKENS)
    return chunks.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# corpus-duplicated span statistics
# ---------------------------------------------------------------------------

SPAN_GRAM = 4

_DUP_SPAN_ORACLE = rf"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk FROM documents
),
g AS (
    SELECT doc_id,
        unnest(CASE WHEN len(tk) >= {SPAN_GRAM}
            THEN list_transform(range(1, len(tk) - {SPAN_GRAM} + 2),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])
            ELSE [] END) AS g
    FROM t
),
gdf AS (
    SELECT g, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM g GROUP BY g
),
totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
hits AS (
    SELECT g.doc_id, COUNT(*) AS n_dup_grams
    FROM g JOIN gdf ON g.g = gdf.g
    WHERE gdf.df >= 2
    GROUP BY g.doc_id
)
SELECT totals.doc_id,
    CAST(n_grams AS BIGINT) AS n_grams,
    CAST(coalesce(n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
    CAST(coalesce(n_dup_grams, 0) AS DOUBLE) / n_grams AS dup_span_frac
FROM totals LEFT JOIN hits ON totals.doc_id = hits.doc_id
"""


@query("text_dup_span_stats", oracle=_DUP_SPAN_ORACLE, tags=("text", "dedup", "spans"))
def text_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplicated span statistics: for each document, how many of
    its 4-gram (SPAN_GRAM) positions also occur in ANOTHER document — the
    signal motivating substring-level dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"), at
    n-gram granularity.

    Scale: one gram-keyed shuffle computes corpus document frequency
    (two-level: distinct (gram, doc) first, so a boilerplate gram
    arrives pre-collapsed), then the probe join re-shuffles grams once
    more; per-doc counts reduce on doc_id. No driver-side state.
    """
    docs = load_documents(spark, sf_dir)
    t = docs.select("doc_id", tokens("text").alias("tk"))
    g = t.select("doc_id", F.explode(_positional_grams(F.col("tk"), SPAN_GRAM)).alias("g"))
    gdf = (
        g.select("doc_id", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") >= 2)
    )
    totals = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        g.join(gdf, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    return totals.join(hits, "doc_id", "left").select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias("n_dup_grams"),
        (
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("double") / F.col("n_grams")
        ).alias("dup_span_frac"),
    )


# ---------------------------------------------------------------------------
# corpus n-gram statistics
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# repetition filtering (Gopher-style quality signals)
# ---------------------------------------------------------------------------

# Thresholds in the spirit of Rae et al. 2021 (Gopher), Table A1: filter
# documents dominated by repeated n-grams. Tuned to the synthetic fixture
# vocabulary so both outcomes occur.
TOP_BIGRAM_FRAC_MAX = 0.08
DUP_TRIGRAM_FRAC_MAX = 0.20

_REPETITION_ORACLE = rf"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk FROM documents
),
base AS (
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct
    FROM t
),
bg AS (
    SELECT doc_id,
           unnest(CASE WHEN len(tk) >= 2
                  THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                  ELSE [] END) AS g
    FROM t
),
bgc AS (SELECT doc_id, g, COUNT(*) AS n FROM bg GROUP BY doc_id, g),
bga AS (
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS total_bg,
           CAST(MAX(n) AS BIGINT) AS top_bg
    FROM bgc GROUP BY doc_id
),
tg AS (
    SELECT doc_id,
           unnest(CASE WHEN len(tk) >= 3
                  THEN list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                  ELSE [] END) AS g
    FROM t
),
tgc AS (SELECT doc_id, g, COUNT(*) AS n FROM tg GROUP BY doc_id, g),
tga AS (
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS total_tg,
           CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_tg
    FROM tgc GROUP BY doc_id
)
SELECT base.doc_id, n_tokens,
    CASE WHEN coalesce(total_bg, 0) > 0
         THEN CAST(top_bg AS DOUBLE) / total_bg ELSE 0.0 END AS top_bigram_frac,
    CASE WHEN coalesce(total_tg, 0) > 0
         THEN CAST(dup_tg AS DOUBLE) / total_tg ELSE 0.0 END AS dup_trigram_frac,
    1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS dup_token_frac,
    CAST((CASE WHEN coalesce(total_bg, 0) > 0
          THEN CAST(top_bg AS DOUBLE) / total_bg ELSE 0.0 END) <= {TOP_BIGRAM_FRAC_MAX}
      AND (CASE WHEN coalesce(total_tg, 0) > 0
                THEN CAST(dup_tg AS DOUBLE) / total_tg ELSE 0.0 END) <= {DUP_TRIGRAM_FRAC_MAX}
      AS BIGINT) AS keep
FROM base
LEFT JOIN bga ON base.doc_id = bga.doc_id
LEFT JOIN tga ON base.doc_id = tga.doc_id
"""


def _positional_grams(tk: Column, k: int) -> Column:
    """All k-gram positions of a token array (duplicates kept — the
    repetition signal IS the duplicate count)."""
    n = F.size(tk)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(tk, i, k), " "))


@query("text_repetition_filter", oracle=_REPETITION_ORACLE, tags=("text", "quality", "repetition"))
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: most-frequent-bigram
    mass, duplicated-trigram mass, duplicate-token fraction, and the
    resulting keep/filter decision (Rae et al. 2021 repetition filters).

    Scale: n-gram explode is map-side; both count passes shuffle on
    (doc_id, gram) — doc_id dominates the key so hot grams cannot skew a
    partition; the three per-doc aggregates then combine on doc_id
    alone. Everything else is codegen column math.
    """
    docs = load_documents(spark, sf_dir)
    t = docs.select("doc_id", tokens("text").alias("tk"))
    base = t.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("tk")).cast("long").alias("n_distinct"),
    )
    bga = (
        t.select("doc_id", F.explode(_positional_grams(F.col("tk"), 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.sum("n").alias("total_bg"), F.max("n").alias("top_bg"))
    )
    tga = (
        t.select("doc_id", F.explode(_positional_grams(F.col("tk"), 3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("total_tg"),
            F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0))).alias("dup_tg"),
        )
    )
    top_bigram_frac = F.when(
        F.coalesce(F.col("total_bg"), F.lit(0)) > 0,
        F.col("top_bg").cast("double") / F.col("total_bg"),
    ).otherwise(F.lit(0.0))
    dup_trigram_frac = F.when(
        F.coalesce(F.col("total_tg"), F.lit(0)) > 0,
        F.col("dup_tg").cast("double") / F.col("total_tg"),
    ).otherwise(F.lit(0.0))
    return (
        base.join(bga, "doc_id", "left")
        .join(tga, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            top_bigram_frac.alias("top_bigram_frac"),
            dup_trigram_frac.alias("dup_trigram_frac"),
            (F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
                "dup_token_frac"
            ),
            (
                (top_bigram_frac <= TOP_BIGRAM_FRAC_MAX)
                & (dup_trigram_frac <= DUP_TRIGRAM_FRAC_MAX)
            ).cast("long").alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark-contamination screen
# ---------------------------------------------------------------------------

CONTAM_GRAM = 5
CONTAM_MOD = 97  # doc_id % 97 == 0 -> held-out "benchmark" split

_CONTAMINATION_ORACLE = rf"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk FROM documents
),
bench AS (
    SELECT DISTINCT unnest(CASE WHEN len(tk) >= {CONTAM_GRAM}
        THEN list_transform(range(1, len(tk) - {CONTAM_GRAM} + 2),
             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])
        ELSE [] END) AS g
    FROM t WHERE doc_id % {CONTAM_MOD} = 0
),
corpus AS (
    SELECT doc_id,
        unnest(CASE WHEN len(tk) >= {CONTAM_GRAM}
            THEN list_transform(range(1, len(tk) - {CONTAM_GRAM} + 2),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])
            ELSE [] END) AS g
    FROM t WHERE doc_id % {CONTAM_MOD} != 0
),
totals AS (
    SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY doc_id
),
hits AS (
    SELECT corpus.doc_id, COUNT(*) AS n_hits
    FROM corpus JOIN bench ON corpus.g = bench.g
    GROUP BY corpus.doc_id
)
SELECT totals.doc_id,
    CAST(n_grams AS BIGINT) AS n_grams,
    CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
    CAST(coalesce(n_hits, 0) AS DOUBLE) / n_grams AS contamination_frac,
    CAST(coalesce(n_hits, 0) > 0 AS BIGINT) AS contaminated
FROM totals LEFT JOIN hits ON totals.doc_id = hits.doc_id
"""


@query("text_contamination", oracle=_CONTAMINATION_ORACLE, tags=("text", "contamination", "broadcast"))
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: flag training documents sharing
    any 5-gram (CONTAM_GRAM) with a held-out benchmark split (the
    n-gram overlap decontamination of Brown et al. 2020 §C / Dodge et
    al. 2021).

    Scale: the benchmark n-gram set is small by construction and
    BROADCAST, so the corpus side never shuffles for the probe — one
    map-side explode + broadcast hash join + one doc_id-keyed count. The
    corpus can be 100 TB; only the benchmark must fit in memory.
    """
    docs = load_documents(spark, sf_dir)
    t = docs.select("doc_id", tokens("text").alias("tk"))
    gram = _positional_grams(F.col("tk"), CONTAM_GRAM)
    bench = (
        t.filter(F.col("doc_id") % CONTAM_MOD == 0)
        .select(F.explode(gram).alias("g"))
        .distinct()
    )
    corpus = t.filter(F.col("doc_id") % CONTAM_MOD != 0).select(
        "doc_id", F.explode(gram).alias("g")
    )
    totals = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return totals.join(hits, "doc_id", "left").select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.col("n_grams")).alias(
            "contamination_frac"
        ),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).cast("long").alias("contaminated"),
    )


_NGRAM_STATS_ORACLE = r"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk FROM documents
),
bg AS (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                                 i -> tk[i] || ' ' || tk[i+1])) AS bigram
    FROM t
),
counted AS (
    SELECT bigram, COUNT(*) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM bg GROUP BY bigram
)
SELECT bigram, n_occurrences, n_docs
FROM counted
ORDER BY n_occurrences DESC, bigram
LIMIT 20
"""


@query("text_ngram_stats", oracle=_NGRAM_STATS_ORACLE, tags=("text", "ngram", "topk"))
def text_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams with occurrence and document frequency —
    the building block for contamination screens and boilerplate
    detection over a training corpus.

    Scale: bigram explode is map-only; the count shuffles on the bigram
    (uniformly distributed keys for natural text after the top-k, which
    compiles to TakeOrderedAndProject — per-partition heaps, no global
    sort). The bigram/doc tiebreak keeps the LIMIT deterministic.
    """
    docs = load_documents(spark, sf_dir)
    toks = docs.select("doc_id", tokens("text").alias("tk"))
    n = F.size("tk")
    # guard: Spark's sequence(1, stop) runs BACKWARDS when stop < 1, so
    # single-token docs must map to an empty index list (as in the SQL)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.element_at("tk", i), F.element_at("tk", i + 1)))
        ).alias("bigram"),
    )
    return (
        bigrams.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# unigram-LM quality proxy (perplexity-style filtering signal)
# ---------------------------------------------------------------------------

_UNIGRAM_LP_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
    FROM documents
),
uni AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY term
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM uni),
scored AS (
    SELECT tok.doc_id,
           round(-ln(CAST(uni.n AS DOUBLE) / tot.n_total), 6) AS nll
    FROM tok JOIN uni ON tok.term = uni.term CROSS JOIN tot
)
SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_tokens,
    {sql_round6_ratio("SUM(CAST(round(nll * 1000000, 0) AS {W}))", "CAST(1000000 AS {W}) * COUNT(*)")}
        AS avg_neg_logprob
FROM scored GROUP BY doc_id
"""


@query("text_unigram_logprob", oracle=_UNIGRAM_LP_ORACLE, tags=("text", "quality", "lm"))
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy: each document's average per-token
    negative log-probability under the corpus's own unigram
    distribution — the cheap stand-in for the LM-perplexity filtering
    of CCNet (Wenzek et al. 2020): gibberish and off-distribution text
    scores high, fluent text low.

    Float parity: ln() is rounded to 6 dp per token (libm last-ulp),
    then per-doc summation runs over EXACT integers. The scaling to
    integers must itself round-to-nearest on BOTH sides: nll*1e6 in
    float64 routinely lands at d-1e-9 (e.g. 8377433.999999999), and a
    truncating cast would disagree between engines by one unit — so
    both sides compute round(nll*1e6, 0) before the integer cast.
    One final double division + round. Two shuffles (term counts,
    doc_id reduce) + one broadcast of the unigram table; the corpus
    total rides along as a lazy 1-row broadcast (no driver collect),
    keeping the whole query one Catalyst DAG.
    """
    docs = load_documents(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    uni = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    tot = uni.agg(F.sum("n").cast("double").alias("n_total"))
    nll = F.round(-F.log(F.col("n").cast("double") / F.col("n_total")), 6)
    scored = tok.join(
        F.broadcast(
            uni.crossJoin(F.broadcast(tot)).select("term", nll.alias("nll"))
        ),
        "term",
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        # exact-integer 6-dp rounding of sum_micro/(1e6*count) — the
        # double round splits engines on exact halves (round6_ratio)
        round6_ratio(
            "sum(cast(round(nll * 1000000, 0) as {W}))",
            "CAST(1000000 AS {W}) * count(*)",
        ).alias("avg_neg_logprob"),
    )


# ---------------------------------------------------------------------------
# Gopher quality-rule battery (round 3)
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 2.0
GOPHER_MAX_MEAN_LEN = 12.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2

_GOPHER_ORACLE = rf"""
WITH base AS (
    SELECT doc_id,
        regexp_split_to_array(lower(text), '\s+') AS tk,
        (length(text) - length(replace(text, '#', ''))) AS n_hash,
        (length(text) - length(replace(text, '...', ''))) // 3 AS n_ellipsis
    FROM documents
),
m AS (
    SELECT doc_id, n_hash, n_ellipsis,
        CAST(len(tk) AS BIGINT) AS n_words,
        CAST(list_reduce(list_transform(tk, t -> length(t)), (a, b) -> a + b) AS BIGINT) AS word_chars,
        CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha_words,
        {_marker_count_sql(STOPWORDS)} AS n_stop
    FROM base
)
SELECT doc_id, n_words,
    CAST(word_chars AS DOUBLE) / n_words AS mean_word_len,
    CAST(n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS} AS BIGINT) AS ok_word_count,
    CAST(CAST(word_chars AS DOUBLE) / n_words >= {GOPHER_MIN_MEAN_LEN}
     AND CAST(word_chars AS DOUBLE) / n_words <= {GOPHER_MAX_MEAN_LEN} AS BIGINT) AS ok_mean_len,
    CAST(CAST(n_hash + n_ellipsis AS DOUBLE) / n_words <= {GOPHER_MAX_SYMBOL_RATIO} AS BIGINT) AS ok_symbols,
    CAST(CAST(n_alpha_words AS DOUBLE) / n_words >= {GOPHER_MIN_ALPHA_FRAC} AS BIGINT) AS ok_alpha,
    CAST(n_stop >= {GOPHER_MIN_STOPWORDS} AS BIGINT) AS ok_stopwords,
    CAST(n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
     AND CAST(word_chars AS DOUBLE) / n_words >= {GOPHER_MIN_MEAN_LEN}
     AND CAST(word_chars AS DOUBLE) / n_words <= {GOPHER_MAX_MEAN_LEN}
     AND CAST(n_hash + n_ellipsis AS DOUBLE) / n_words <= {GOPHER_MAX_SYMBOL_RATIO}
     AND CAST(n_alpha_words AS DOUBLE) / n_words >= {GOPHER_MIN_ALPHA_FRAC}
     AND n_stop >= {GOPHER_MIN_STOPWORDS} AS BIGINT) AS gopher_pass
FROM m
"""


@query("text_gopher_rules", oracle=_GOPHER_ORACLE, tags=("text", "quality", "filter"))
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality battery (Rae et al. 2021 §A1.1, as
    adapted by Penedo et al. 2023 for RefinedWeb): per-document boolean
    gates — word count bounds, mean word length bounds, symbol-to-word
    ratio (# and ellipsis), alphabetic-word fraction, minimum stopword
    hits — plus the conjunctive pass flag corpora are filtered on.

    Float parity: every ratio is one integer-over-integer IEEE division
    compared against a literal threshold — no accumulation, no
    transcendentals — so boolean flags and doubles hash identically.
    Scale: map-only projection; the filter fuses into any downstream
    scan (predicate pushdown applies to gopher_pass = true consumers).
    """
    docs = table(spark, sf_dir, "documents")
    tk = tokens("text")
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    n_ellipsis = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    # word_chars = sum of token lengths = non-whitespace chars of the text:
    # one codegen regex pass instead of an interpreted aggregate(transform())
    # over every token (lower() preserves length, so the original text works).
    word_chars = F.length(F.regexp_replace(F.col("text"), r"\s+", "")).cast("long")
    base = docs.select(
        "doc_id",
        tk.alias("tk"),
        word_chars.alias("word_chars"),
        n_hash.cast("long").alias("n_hash"),
        n_ellipsis.alias("n_ellipsis"),
    )
    m = base.select(
        "doc_id",
        "n_hash",
        "n_ellipsis",
        "word_chars",
        F.size("tk").cast("long").alias("n_words"),
        F.size(F.filter(F.col("tk"), lambda t: t.rlike("[a-z]"))).cast("long").alias("n_alpha_words"),
        _marker_count(F.col("tk"), STOPWORDS).alias("n_stop"),
    )
    mean_len = F.col("word_chars").cast("double") / F.col("n_words")
    ok_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (F.col("n_words") <= GOPHER_MAX_WORDS)
    ok_mean = (mean_len >= GOPHER_MIN_MEAN_LEN) & (mean_len <= GOPHER_MAX_MEAN_LEN)
    ok_sym = (
        (F.col("n_hash") + F.col("n_ellipsis")).cast("double") / F.col("n_words")
        <= GOPHER_MAX_SYMBOL_RATIO
    )
    ok_alpha = (
        F.col("n_alpha_words").cast("double") / F.col("n_words") >= GOPHER_MIN_ALPHA_FRAC
    )
    ok_stop = F.col("n_stop") >= GOPHER_MIN_STOPWORDS
    return m.select(
        "doc_id",
        "n_words",
        mean_len.alias("mean_word_len"),
        ok_words.cast("long").alias("ok_word_count"),
        ok_mean.cast("long").alias("ok_mean_len"),
        ok_sym.cast("long").alias("ok_symbols"),
        ok_alpha.cast("long").alias("ok_alpha"),
        ok_stop.cast("long").alias("ok_stopwords"),
        (ok_words & ok_mean & ok_sym & ok_alpha & ok_stop)
        .cast("long")
        .alias("gopher_pass"),
    )


# ---------------------------------------------------------------------------
# corpus mixture report (round 3)
# ---------------------------------------------------------------------------

_MIX_ORACLE = rf"""
WITH per_doc AS (
    SELECT lang, source,
        CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_tokens,
        CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens FROM per_doc)
SELECT lang, source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
    {sql_round6_ratio("SUM(n_tokens)", "(SELECT corpus_tokens FROM tot)")}
        AS token_share
FROM per_doc GROUP BY lang, source
"""


@query("text_domain_mix", oracle=_MIX_ORACLE, tags=("text", "mixture", "agg"))
def text_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture report: docs / tokens / chars and corpus token share
    per (language, source) cell — the table a mixture sampler consumes
    to rebalance training data (the decision input for
    ``sample_stratified`` / ``sample_topk_per_stratum``).

    Float parity: shares round to 6 dp in EXACT integer arithmetic
    (functions.round6_ratio — the double round splits engines on exact
    halves); token totals are exact integers. Scale: one shuffle on the
    (lang, source) keyspace; the corpus-total is a broadcast scalar.
    """
    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        "source",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    cells = per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    tot = per_doc.agg(F.sum("n_tokens").cast("long").alias("corpus_tokens"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        "total_tokens",
        "total_chars",
        # exact-integer 6-dp rounding (see functions.round6_ratio)
        round6_ratio("total_tokens", "corpus_tokens").alias("token_share"),
    )


# ---------------------------------------------------------------------------
# BM25 keyword retrieval (round 4)
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "query", "join")
BM25_TOP_N = 50

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

_BM25_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
    FROM documents
),
dl AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok WHERE term IN ({_BM25_TERMS_SQL})
    GROUP BY doc_id, term
),
idf AS (
    SELECT tf.term,
           ln(1.0 + (stats.n_docs - COUNT(DISTINCT tf.doc_id) + 0.5)
                    / (COUNT(DISTINCT tf.doc_id) + 0.5)) AS idf
    FROM tf CROSS JOIN stats
    GROUP BY tf.term, stats.n_docs
),
contrib AS (
    SELECT tf.doc_id,
        round(idf.idf * ((tf.tf * {BM25_K1 + 1.0}) /
            (tf.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl / stats.avgdl))), 6)
            AS c
    FROM tf
    JOIN idf ON tf.term = idf.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
),
scored AS (
    SELECT doc_id,
        round(CAST(SUM(CAST(round(c * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000, 6)
            AS bm25
    FROM contrib GROUP BY doc_id
),
ranked AS (
    SELECT doc_id, bm25, CAST(row_number() OVER (
        ORDER BY bm25 DESC, doc_id
    ) AS BIGINT) AS rn
    FROM scored
)
SELECT doc_id, bm25, rn FROM ranked WHERE rn <= {BM25_TOP_N}
"""


@query("text_bm25_search", oracle=_BM25_ORACLE, tags=("text", "search", "topk", "quality"))
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: score every document against a fixed
    query-term set with the Okapi BM25 function (Robertson/Walker,
    Lucene's ln(1 + (N-df+0.5)/(df+0.5)) idf variant; k1=1.2, b=0.75)
    and return the global top-50 — the relevance-retrieval primitive
    behind corpus curation-by-query and contamination auditing.

    Scale: term frequencies shuffle on (doc_id, term) for ONLY the
    query terms (filter pushed below the explode's aggregation);
    document lengths shuffle on doc_id once; the df/idf table is
    query-terms-sized and broadcasts; the final top-50 is
    TakeOrderedAndProject. No corpus-wide inverted index is
    materialized — at 100 TB this is one filtered scan + two bounded
    shuffles.

    Float parity: idf * tf-saturation per (doc, term) is one identical
    IEEE expression tree in both engines, rounded to 6 dp; per-doc
    summation runs over exact integer micros (the
    ``text_unigram_logprob`` discipline); avgdl is a single
    int-sum/int-count division.
    """
    docs = load_documents(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    # corpus stats ride along as a lazy 1-row broadcast (no driver
    # collect): sum_dl/n_docs is the same long/long -> DOUBLE IEEE
    # division the python true-division produced before
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    tf = (
        tok.filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
        )
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    sat = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl)
    )
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(F.col("idf") * sat, 6).alias("c"))
    )
    scored = contrib.groupBy("doc_id").agg(
        F.round(
            F.sum(F.round(F.col("c") * 1000000, 0).cast("long")).cast("double")
            / 1000000,
            6,
        ).alias("bm25")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("bm25"), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= BM25_TOP_N)
    )


# ---------------------------------------------------------------------------
# sequence-level exact dedup (round 4)
# ---------------------------------------------------------------------------

SEQDEDUP_WINDOW = 16

_SEQ_DEDUP_ORACLE = rf"""
WITH t AS (
    SELECT doc_id,
        list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS tk
    FROM documents
),
w AS (
    SELECT doc_id,
        unnest(range(1, greatest(len(tk), 1) + 1, {SEQDEDUP_WINDOW})) AS start,
        tk
    FROM t
),
hashed AS (
    SELECT doc_id,
        CAST((start - 1) // {SEQDEDUP_WINDOW} AS BIGINT) AS win_idx,
        CAST(len(list_slice(tk, start, start + {SEQDEDUP_WINDOW} - 1)) AS BIGINT) AS n_tok,
        md5(array_to_string(list_slice(tk, start, start + {SEQDEDUP_WINDOW} - 1), ' ')) AS h
    FROM w
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY h ORDER BY doc_id, win_idx
    ) AS rn
    FROM hashed
)
SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_windows,
    CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
    CAST(SUM(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept,
    CAST(SUM(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_removed
FROM ranked GROUP BY doc_id
"""


@query("text_seq_dedup", oracle=_SEQ_DEDUP_ORACLE, tags=("text", "dedup", "window", "quality"))
def text_seq_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-level exact dedup (Lee et al. 2022's exact-substring
    regime at window granularity): split every document into
    non-overlapping 16-token windows, keep each distinct window's FIRST
    corpus occurrence (ordered by doc_id, position), and report per
    document how many windows/tokens survive — the curation step that
    removes boilerplate repeated across documents while keeping one
    canonical copy, at sub-document granularity exact dedup can't see.

    Scale: one shuffle on the window digest (uniform md5 keys — no
    skew whatever the text distribution) carrying (doc_id, win_idx,
    n_tok) only; one shuffle back on doc_id for the report. The
    first-occurrence rule makes the winner unique and the whole result
    a pure function of the corpus.
    """
    docs = load_documents(spark, sf_dir)
    base = docs.select("doc_id", tokens("text").alias("tk"))
    wins = base.select(
        "doc_id",
        "tk",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.size("tk"), F.lit(1)), F.lit(SEQDEDUP_WINDOW)
            )
        ).alias("start"),
    )
    piece = F.slice(F.col("tk"), F.col("start"), SEQDEDUP_WINDOW)
    hashed = wins.select(
        "doc_id",
        ((F.col("start") - 1) / SEQDEDUP_WINDOW).cast("long").alias("win_idx"),
        F.size(piece).cast("long").alias("n_tok"),
        F.md5(F.array_join(piece, " ")).alias("h"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("doc_id", "win_idx")
    ranked = hashed.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
        F.sum(F.when(F.col("rn") > 1, F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("tokens_removed"),
    )


# ---------------------------------------------------------------------------
# per-source distinctive terms (round 4)
# ---------------------------------------------------------------------------

_CONTRAST_TOP = 3

_CONTRAST_ORACLE = rf"""
WITH tok AS (
    SELECT source, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
    FROM documents
),
cst AS (
    SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c_st
    FROM tok GROUP BY source, term
),
ns AS (
    SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM cst GROUP BY source
),
ct AS (
    SELECT term, CAST(SUM(c_st) AS BIGINT) AS c_t FROM cst GROUP BY term
),
tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM ns),
scored AS (
    SELECT cst.source, cst.term,
        round(
            ln((cst.c_st + 0.5) / (ns.n_s - cst.c_st + 0.5))
            - ln((ct.c_t - cst.c_st + 0.5) / ((tot.n - ns.n_s) - (ct.c_t - cst.c_st) + 0.5)),
        6) AS log_odds
    FROM cst
    JOIN ns ON cst.source = ns.source
    JOIN ct ON cst.term = ct.term
    CROSS JOIN tot
),
ranked AS (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY source ORDER BY log_odds DESC, term
    ) AS BIGINT) AS rn
    FROM scored
)
SELECT source, term, log_odds, rn FROM ranked WHERE rn <= {_CONTRAST_TOP}
"""


@query("text_source_contrast", oracle=_CONTRAST_ORACLE, tags=("text", "quality", "window", "provenance"))
def text_source_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source: log-odds of each term inside a
    source vs the rest of the corpus (the add-0.5 smoothed odds-ratio —
    the "Fightin' Words" statistic without the Dirichlet prior), top-3
    per source. This is the mixture-debugging report that exposes what
    a feed actually contains before it is weighted into training data —
    boilerplate, spam markers, and domain drift surface as extreme
    log-odds terms.

    Scale: (source, term) counts are one shuffle over the vocabulary x
    sources relation; source totals and term totals fold from it
    (broadcast-joined back); the window is per-source top-k. Float
    parity: counts stay integer until two ln() calls in one identical
    expression tree, rounded to 6 dp before ranking with a term
    tiebreak.
    """
    docs = load_documents(spark, sf_dir)
    tok = docs.select("source", F.explode(tokens("text")).alias("term"))
    cst = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c_st"))
    ns = cst.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    ct = cst.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    # Scalar corpus total stays IN the DAG (broadcast 1-row cross join)
    # instead of a driver collect: the collect was a separate job that
    # recomputed the whole tokenize+count lineage — in-DAG, Catalyst
    # reuses the (source, term) shuffle across all three branches.
    total = ns.agg(F.sum("n_s").alias("n_tot"))
    scored = (
        cst.join(F.broadcast(ns), "source")
        .join(ct, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "term",
            F.round(
                F.log(
                    (F.col("c_st") + F.lit(0.5))
                    / (F.col("n_s") - F.col("c_st") + F.lit(0.5))
                )
                - F.log(
                    (F.col("c_t") - F.col("c_st") + F.lit(0.5))
                    / (
                        (F.col("n_tot") - F.col("n_s"))
                        - (F.col("c_t") - F.col("c_st"))
                        + F.lit(0.5)
                    )
                ),
                6,
            ).alias("log_odds"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("log_odds"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _CONTRAST_TOP)
    )


# ---------------------------------------------------------------------------
# dataset card: per-source statistics report (round 4)
# ---------------------------------------------------------------------------

_DATASET_CARD_ORACLE = """
WITH sl AS (
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c,
        CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY source, lang
),
tot AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n,
        CAST(SUM(chars) AS BIGINT) AS total_chars
    FROM sl GROUP BY source
),
terms AS (
    SELECT sl.source,
        round(
            -(CAST(sl.c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                * ln(CAST(sl.c AS DOUBLE) / CAST(tot.n AS DOUBLE)),
            6
        ) AS term
    FROM sl JOIN tot ON sl.source = tot.source
),
ent AS (
    SELECT source,
        CAST(SUM(CAST(round(term * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000
            AS lang_entropy
    FROM terms GROUP BY source
)
SELECT tot.source,
    tot.n AS n_docs,
    tot.total_chars,
    CAST(tot.total_chars AS DOUBLE) / CAST(tot.n AS DOUBLE) AS avg_chars,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM sl WHERE sl.source = tot.source)
        AS n_langs,
    ent.lang_entropy
FROM tot JOIN ent ON tot.source = ent.source
"""


@query("text_dataset_card", oracle=_DATASET_CARD_ORACLE, tags=("text", "agg", "pipeline", "provenance"))
def text_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: document count, character volume,
    average length, language count, and language-distribution Shannon
    entropy (nats) — the one-page mixture summary logged alongside
    every training-data release (what a reader checks before trusting
    a corpus).

    Float parity: probabilities divide two exact bigints; each
    p*ln(p) term is rounded to 6 dp (libm last-ulp) and the terms are
    summed through the integer-micro trick (scale by 1e6, sum as
    BIGINT, scale back) so the entropy is exact in any accumulation
    order — the same discipline as text_unigram_logprob. avg_chars is
    one double division of two exact integers.

    Scale: two shuffles over relations bounded by |source| x |lang| —
    trivially small at any corpus size; the heavy input scan reads two
    columns (pruned projection).
    """
    docs = table(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    tot = sl.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
    )
    p = F.col("c").cast("double") / F.col("n_docs").cast("double")
    terms = sl.join(tot.select("source", "n_docs"), "source").select(
        "source", F.round(-p * F.log(p), 6).alias("term")
    )
    ent = terms.groupBy("source").agg(
        (
            F.sum(F.round(F.col("term") * 1000000, 0).cast("long")).cast("double")
            / 1000000
        ).alias("lang_entropy")
    )
    return tot.join(ent, "source").select(
        "source",
        "n_docs",
        "total_chars",
        (F.col("total_chars").cast("double") / F.col("n_docs").cast("double")).alias(
            "avg_chars"
        ),
        "n_langs",
        "lang_entropy",
    )


# ---------------------------------------------------------------------------
# Zipf-law fit over the corpus term distribution (round 4)
# ---------------------------------------------------------------------------

_ZIPF_TOP = 100

_ZIPF_ORACLE = rf"""
WITH tf AS (
    SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
        SELECT UNNEST(regexp_split_to_array(lower(text), '\s+')) AS t
        FROM documents
    )
    GROUP BY term
),
top AS (
    SELECT term, freq FROM tf ORDER BY freq DESC, term LIMIT {_ZIPF_TOP}
),
ranked AS (
    SELECT freq,
        CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rnk
    FROM top
),
pts AS (
    SELECT
        CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000, 0) AS BIGINT) AS xi,
        CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000, 0) AS BIGINT) AS yi
    FROM ranked
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(xi) AS BIGINT) AS sx,
        CAST(SUM(yi) AS BIGINT) AS sy,
        CAST(SUM(xi * yi) AS BIGINT) AS sxy,
        CAST(SUM(xi * xi) AS BIGINT) AS sxx
    FROM pts
)
SELECT n AS n_terms,
    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS zipf_slope
FROM s
"""


@query("text_zipf_fit", oracle=_ZIPF_ORACLE, tags=("text", "agg", "analytic", "topk"))
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent of the corpus: OLS slope of ln(freq) vs
    ln(rank) over the top-100 terms — natural text tracks slope ~ -1,
    so a corpus that deviates sharply (flat: boilerplate/templating;
    steep: degenerate repetition) fails the distributional sanity
    check data-quality audits run before training.

    Float parity for a log-log regression: each ln() is rounded onto
    the 1e-6 grid and scaled to BIGINT, so the five sufficient
    statistics are exact integers in any accumulation order; the slope
    formula then runs identical double arithmetic in both engines
    (same discipline as graph_pagerank_transitions' per-iteration
    grid).

    Scale: term counting is the one corpus-sized shuffle (map-side
    combine on the term key); top-100 compiles to per-partition heaps
    (TakeOrderedAndProject), and the regression itself runs over 100
    rows. The rank window runs AFTER the limit — never a global sort
    of the vocabulary.
    """
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    top = tf.orderBy(F.desc("freq"), "term").limit(_ZIPF_TOP)
    ranked = top.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), "term"))
        .cast("long")
        .alias("rnk"),
    )
    pts = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")) * 1000000, 0)
        .cast("long")
        .alias("xi"),
        F.round(F.log(F.col("freq").cast("double")) * 1000000, 0)
        .cast("long")
        .alias("yi"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xi").cast("long").alias("sx"),
        F.sum("yi").cast("long").alias("sy"),
        F.sum(F.col("xi") * F.col("yi")).cast("long").alias("sxy"),
        F.sum(F.col("xi") * F.col("xi")).cast("long").alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    return s.select(
        F.col("n").alias("n_terms"),
        (
            (n_d * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (n_d * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# readability score (round 4)
# ---------------------------------------------------------------------------

_READABILITY_ORACLE = r"""
WITH m AS (
    SELECT doc_id, lang,
        CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_words,
        CAST(GREATEST(len(regexp_split_to_array(text, '[.!?]+')) - 1, 1) AS BIGINT)
            AS n_sentences,
        CAST(GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS BIGINT)
            AS n_syllables
    FROM documents
)
SELECT doc_id, lang, n_words, n_sentences, n_syllables,
    round(206.835
          - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
          - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
          6) AS flesch_score
FROM m
"""


@query("text_readability", oracle=_READABILITY_ORACLE, tags=("text", "quality"))
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease proxy per document: words/sentence and
    (vowel-group) syllables/word folded into the classic 206.835
    formula — the readability axis of corpus quality filtering
    (alongside text_quality_score's length/punct/stopword gates; very
    low scores flag run-on machine text, very high flag fragmented
    boilerplate).

    Syllables use the standard vowel-group approximation (exact
    syllabification needs a dictionary); sentence count is
    terminator-split with a floor of 1 — both are integer counts, so
    the only float work is the final formula over exact-integer
    ratios, identical in both engines and rounded to 6 dp.

    Scale: map-only projection over the text column — no shuffle.
    """
    docs = table(spark, sf_dir, "documents")
    n_words = F.size(tokens("text")).cast("long")
    n_sentences = F.greatest(
        F.size(F.split(F.col("text"), r"[.!?]+")) - 1, F.lit(1)
    ).cast("long")
    n_syllables = F.greatest(
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)),
        F.lit(1),
    ).cast("long")
    m = docs.select(
        "doc_id", "lang",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    )
    return m.select(
        "doc_id", "lang", "n_words", "n_sentences", "n_syllables",
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
            - F.lit(84.6)
            * (F.col("n_syllables").cast("double") / F.col("n_words").cast("double")),
            6,
        ).alias("flesch_score"),
    )


# ---------------------------------------------------------------------------
# code-vs-prose detection (round 4)
# ---------------------------------------------------------------------------

_CODE_DETECT_ORACLE = r"""
WITH m AS (
    SELECT doc_id, lang,
        CAST(length(text) AS BIGINT) AS n_chars_t,
        CAST(length(text)
             - length(regexp_replace(text, '[{}()\[\];=<>|&+*/\\_-]', '', 'g'))
             AS BIGINT) AS n_symbols,
        CAST(len(regexp_extract_all(
            text,
            '\b(def|class|return|import|function|var|const|int|void|public|if|else|for|while)\b'
        )) AS BIGINT) AS n_keywords,
        CAST(len(regexp_extract_all(text, '(^|\n)(    |\t)')) AS BIGINT)
            AS n_indented
    FROM documents
)
SELECT doc_id, lang, n_symbols, n_keywords, n_indented,
    CAST(n_symbols AS DOUBLE) / CAST(GREATEST(n_chars_t, 1) AS DOUBLE)
        AS symbol_ratio,
    CAST(CASE WHEN CAST(n_symbols AS DOUBLE)
                   / CAST(GREATEST(n_chars_t, 1) AS DOUBLE) > 0.03
              AND n_keywords >= 3
         THEN 1 ELSE 0 END AS BIGINT) AS looks_like_code
FROM m
"""


@query("text_code_detect", oracle=_CODE_DETECT_ORACLE, tags=("text", "quality", "langid"))
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose heuristic: structural-symbol density, programming
    keyword hits, and indented-line starts, combined into a
    looks_like_code flag — the router that decides whether a document
    goes down the code-corpus pipeline (different dedup granularity,
    different quality rules) or the prose pipeline. All three signals
    are exact integer counts from the same regex semantics (RE2-style
    classes both engines share); the ratio divides exact ints and the
    flag's threshold compare therefore takes the same branch.

    Scale: map-only regex projection — no shuffle; at 100 TB this is
    the cheapest router in the curation DAG.
    """
    docs = table(spark, sf_dir, "documents")
    n_chars_t = F.length("text").cast("long")
    n_symbols = (
        F.length("text")
        - F.length(F.regexp_replace("text", r"[{}()\[\];=<>|&+*/\\_-]", ""))
    ).cast("long")
    n_keywords = F.size(
        F.regexp_extract_all(
            "text",
            F.lit(
                r"\b(def|class|return|import|function|var|const|int|void|public|if|else|for|while)\b"
            ),
            0,
        )
    ).cast("long")
    n_indented = F.size(
        F.regexp_extract_all("text", F.lit("(^|\n)(    |\t)"), 0)
    ).cast("long")
    m = docs.select(
        "doc_id", "lang",
        n_chars_t.alias("n_chars_t"),
        n_symbols.alias("n_symbols"),
        n_keywords.alias("n_keywords"),
        n_indented.alias("n_indented"),
    )
    ratio = F.col("n_symbols").cast("double") / F.greatest(
        F.col("n_chars_t"), F.lit(1)
    ).cast("double")
    return m.select(
        "doc_id", "lang", "n_symbols", "n_keywords", "n_indented",
        ratio.alias("symbol_ratio"),
        F.when((ratio > 0.03) & (F.col("n_keywords") >= 3), 1)
        .otherwise(0)
        .cast("long")
        .alias("looks_like_code"),
    )


# ---------------------------------------------------------------------------
# line-level boilerplate dedup (round 4)
# ---------------------------------------------------------------------------

_LINE_DEDUP_MIN_CHARS = 15
_LINE_DEDUP_SHARED = 3

_LINE_DEDUP_ORACLE = rf"""
WITH lines AS (
    SELECT doc_id, trim(l) AS line
    FROM (
        SELECT doc_id, UNNEST(regexp_split_to_array(text, '\n|\. ')) AS l
        FROM documents
    )
    WHERE length(trim(l)) >= {_LINE_DEDUP_MIN_CHARS}
),
freq AS (
    SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with
    FROM lines GROUP BY line
),
per_doc AS (
    SELECT l.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(CASE WHEN f.n_docs_with >= {_LINE_DEDUP_SHARED} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_boilerplate
    FROM lines l JOIN freq f ON l.line = f.line
    GROUP BY l.doc_id
)
SELECT doc_id, n_lines, n_boilerplate,
    CAST(n_boilerplate AS DOUBLE) / CAST(n_lines AS DOUBLE)
        AS boilerplate_fraction
FROM per_doc
"""


@query("text_line_dedup", oracle=_LINE_DEDUP_ORACLE, tags=("text", "dedup", "quality"))
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-granularity boilerplate detection (the CCNet preprocessing
    step): split documents into line/sentence units, count how many
    DISTINCT documents share each unit, and report each document's
    boilerplate fraction (units appearing in >= 3 documents — nav
    bars, cookie banners, license footers). Complements text_seq_dedup
    (token windows, order-sensitive) and text_dup_span_stats (4-gram
    spans) at the granularity real web-corpus cleaning actually
    removes first.

    Scale: one shuffle keyed on the line text (map-side distinct
    within doc first keeps hot lines from exploding the exchange —
    COUNT(DISTINCT doc_id) over the line key); the per-doc rollup
    reuses the doc_id key. Fraction divides exact bigints.
    """
    docs = table(spark, sf_dir, "documents")
    lines = (
        docs.select(
            "doc_id",
            F.explode(F.split("text", r"\n|\. ")).alias("l"),
        )
        .select("doc_id", F.trim("l").alias("line"))
        .filter(F.length("line") >= _LINE_DEDUP_MIN_CHARS)
    )
    freq = lines.groupBy("line").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs_with")
    )
    per_doc = (
        lines.join(freq, "line")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.when(F.col("n_docs_with") >= _LINE_DEDUP_SHARED, 1).otherwise(0)
            ).cast("long").alias("n_boilerplate"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_lines",
        "n_boilerplate",
        (
            F.col("n_boilerplate").cast("double") / F.col("n_lines").cast("double")
        ).alias("boilerplate_fraction"),
    )


# ---------------------------------------------------------------------------
# feature hashing (hashing-trick vectorizer plumbing, round 4)
# ---------------------------------------------------------------------------

_FEATURE_HASH_DIM = 64

_FEATURE_HASH_ORACLE = rf"""
WITH tk AS (
    SELECT doc_id, t
    FROM (
        SELECT doc_id, UNNEST(regexp_split_to_array(lower(text), '\s+')) AS t
        FROM documents
    )
    WHERE length(t) > 0
),
h AS (
    SELECT doc_id,
        CAST(
            (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) AS BIGINT
        ) % {_FEATURE_HASH_DIM} AS bucket
    FROM tk
)
SELECT doc_id,
    CAST(SUM(cnt) AS BIGINT) AS n_tokens_hashed,
    CAST(COUNT(*) AS BIGINT) AS n_nonzero,
    CAST(MAX(cnt) AS BIGINT) AS max_bucket_count
FROM (
    SELECT doc_id, bucket, COUNT(*) AS cnt FROM h GROUP BY doc_id, bucket
)
GROUP BY doc_id
"""


@query("text_feature_hashing", oracle=_FEATURE_HASH_ORACLE, tags=("text", "embedding", "agg"))
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer plumbing: every token routed to one of
    64 buckets by its md5 (no vocabulary to build, broadcast, or keep
    consistent across a 1000-executor job — the whole point of feature
    hashing), with per-document sparsity stats (nonzero buckets,
    heaviest bucket). The bucket assignment is the identical md5-hex
    arithmetic in both engines, so the sparse vectors — summarized
    here by exact counts — are bit-identical.

    Scale: tokenize + hash are map-only; the (doc, bucket) rollup is
    one shuffle bounded by docs x 64. The full sparse vector (bucket
    -> count map) drops out of the same plan via map_from_entries
    when a consumer wants it; the stats columns keep the oracle
    portable.
    """
    docs = table(spark, sf_dir, "documents")
    tk = (
        docs.select("doc_id", F.explode(tokens("text")).alias("t"))
        .filter(F.length("t") > 0)
    )
    hexv = "0123456789abcdef"
    n1 = F.instr(F.lit(hexv), F.substring(F.md5("t"), 1, 1)) - 1
    n2 = F.instr(F.lit(hexv), F.substring(F.md5("t"), 2, 1)) - 1
    h = tk.select(
        "doc_id", ((n1 * 16 + n2).cast("long") % _FEATURE_HASH_DIM).alias("bucket")
    )
    per_bucket = h.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    return per_bucket.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_tokens_hashed"),
        F.count(F.lit(1)).cast("long").alias("n_nonzero"),
        F.max("cnt").cast("long").alias("max_bucket_count"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (round 4)
# ---------------------------------------------------------------------------

PPL_BUCKETS = 3  # CCNet's head / middle / tail split

_PPL_BUCKET_ORACLE = f"""
WITH lp AS ({_UNIGRAM_LP_ORACLE}),
scored AS (
    SELECT d.lang, lp.doc_id, lp.avg_neg_logprob,
        CAST(ntile({PPL_BUCKETS}) OVER (
            PARTITION BY d.lang ORDER BY lp.avg_neg_logprob, lp.doc_id
        ) AS BIGINT) AS bucket
    FROM lp JOIN documents d ON lp.doc_id = d.doc_id
)
SELECT lang, bucket,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    {sql_round6_ratio("SUM(CAST(round(avg_neg_logprob * 1000000, 0) AS {W}))", "CAST(1000000 AS {W}) * COUNT(*)")}
        AS mean_nll,
    MIN(avg_neg_logprob) AS min_nll,
    MAX(avg_neg_logprob) AS max_nll
FROM scored GROUP BY lang, bucket
"""


@query("text_perplexity_buckets", oracle=_PPL_BUCKET_ORACLE, tags=("text", "quality", "lm", "window"))
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020): within
    each language, rank documents by their unigram-LM average negative
    log-probability and cut the ranking into three equal-size buckets
    — bucket 1 ("head") is the most in-distribution text, bucket 3
    ("tail") the most off-distribution; CCNet trains on head+middle.
    Composes the oracle-verified text_unigram_logprob signal, so the
    composition itself is hash-checked end-to-end.

    Float parity: the per-doc nll is already round-6; the bucket mean
    sums exact scaled integers (round-to-nearest before the cast, per
    the unigram-logprob discipline) with one final rounded division.
    ntile is ANSI (first n%b buckets take the extra row) and the
    ordering is total (nll, doc_id), so bucket assignment is
    deterministic in both engines.

    Scale: rides the unigram pipeline's two shuffles, then one ntile
    exchange partitioned by lang and a keyspace-sized report. At
    100 TB the per-lang global rank would switch to approx quantile
    cutoffs (the registered agg_approx_percentile pattern) — the
    3-way split only needs two cut points per language.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    lp = text_unigram_logprob(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy("avg_neg_logprob", "doc_id")
    scored = lp.join(docs, "doc_id").select(
        "lang",
        "avg_neg_logprob",
        F.ntile(PPL_BUCKETS).over(w).cast("long").alias("bucket"),
    )
    return scored.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        # exact-integer 6-dp rounding (see functions.round6_ratio)
        round6_ratio(
            "sum(cast(round(avg_neg_logprob * 1000000, 0) as {W}))",
            "CAST(1000000 AS {W}) * count(*)",
        ).alias("mean_nll"),
        F.min("avg_neg_logprob").alias("min_nll"),
        F.max("avg_neg_logprob").alias("max_nll"),
    )


# ---------------------------------------------------------------------------
# collocations: PMI-scored bigram phrase mining
# ---------------------------------------------------------------------------

_COLLOCATION_MIN_COUNT = 30

_COLLOCATIONS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk FROM documents
),
uni AS (SELECT unnest(tk) AS w FROM toks),
uni_c AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
n_uni AS (SELECT COUNT(*) AS t FROM uni),
idx AS (SELECT tk, unnest(generate_series(1, len(tk)-1)) AS i FROM toks),
bi AS (SELECT tk[i] AS w1, tk[i+1] AS w2 FROM idx),
bi_c AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY w1, w2),
n_bi AS (SELECT COUNT(*) AS t FROM bi)
SELECT
    bc.w1, bc.w2,
    CAST(bc.c AS BIGINT) AS n_ab,
    CAST(ca.c AS BIGINT) AS n_a,
    CAST(cb.c AS BIGINT) AS n_b,
    round(ln((bc.c * 1.0 / nb.t) /
             ((ca.c * 1.0 / nu.t) * (cb.c * 1.0 / nu.t))), 6) AS pmi
FROM bi_c bc
CROSS JOIN n_bi nb
CROSS JOIN n_uni nu
JOIN uni_c ca ON ca.w = bc.w1
JOIN uni_c cb ON cb.w = bc.w2
WHERE bc.c >= {_COLLOCATION_MIN_COUNT}
"""


@query(
    "text_collocations_pmi",
    oracle=_COLLOCATIONS_ORACLE,
    tags=("text", "ngram", "agg", "quality"),
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: bigrams scored by pointwise mutual
    information, PMI = ln(p(ab) / (p(a)·p(b))) — the phrase detector
    behind tokenizer vocabulary construction (word2vec-style phrase
    merging) and boilerplate discovery: high-PMI pairs co-occur far
    above chance.

    The bigram relation is built with a higher-order slice+transform
    (codegen, no UDF) and never materializes per-document strings
    beyond the token arrays; counts shuffle once on token (vocabulary-
    bounded, NOT corpus-bounded) and once on bigram (vocab²-bounded,
    pruned by the min-count filter pushed below the joins). The two
    corpus totals ride 1-row broadcasts. Unigram-count joins key on
    token — at 100 TB the count tables are sketch-sized relative to
    the corpus and AQE picks broadcast when they fit.

    Parity: counts are exact integers; the PMI double divides/multiplies
    them in an identical tree in both engines, with the final ln
    rounded to 6 (transcendental discipline).
    """
    docs = load_documents(spark, sf_dir).withColumn("tk", tokens("text"))
    uni = docs.select(F.explode("tk").alias("w"))
    uni_c = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # corpus totals FOLD from the count tables (sum of group counts ==
    # total count, exactly, in the same long type) instead of
    # re-scanning the corpus: r15 opt — 4 corpus tokenize passes -> 2.
    # Bench-neutral at sf0.1 (pass cost is noise-bound there) but 2
    # fewer full passes at 100 TB, and the totals become vocab-sized
    # aggregations (guide §1.2 order-1: fewer passes beats per-pass
    # tuning).
    t_uni = uni_c.agg(F.sum("c").alias("t_uni"))
    bi = docs.select(
        F.explode(
            F.expr(
                "transform(slice(tk, 1, size(tk) - 1),"
                " (w, i) -> struct(w AS w1, tk[i + 1] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi_c = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    t_bi = bi_c.agg(F.sum("n_ab").alias("t_bi"))
    ca = uni_c.select(F.col("w").alias("w1"), F.col("c").alias("n_a"))
    cb = uni_c.select(F.col("w").alias("w2"), F.col("c").alias("n_b"))
    scored = (
        bi_c.filter(F.col("n_ab") >= _COLLOCATION_MIN_COUNT)
        .join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(t_bi))
        .crossJoin(F.broadcast(t_uni))
    )
    return scored.select(
        "w1",
        "w2",
        F.col("n_ab").cast("long").alias("n_ab"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(
            F.log(
                (F.col("n_ab") * F.lit(1.0) / F.col("t_bi"))
                / (
                    (F.col("n_a") * F.lit(1.0) / F.col("t_uni"))
                    * (F.col("n_b") * F.lit(1.0) / F.col("t_uni"))
                )
            ),
            6,
        ).alias("pmi"),
    )


# ---------------------------------------------------------------------------
# language-ID evaluation: confusion matrix
# ---------------------------------------------------------------------------


def _lang_confusion_oracle() -> str:
    return f"""
WITH pred AS ({_langid_oracle()}),
conf AS (
    SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY lang, pred_lang
)
SELECT lang, pred_lang, n_docs,
       {sql_round6_ratio("n_docs", "SUM(n_docs) OVER (PARTITION BY lang)")}
           AS share_of_actual
FROM conf
"""


@query(
    "text_lang_confusion",
    oracle=_lang_confusion_oracle(),
    tags=("text", "langid", "evaluation", "agg"),
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the language-ID confusion
    matrix (labeled lang x predicted lang) with per-actual-language
    recall shares — the quality-report pattern for ANY labeled
    classifier in the pipeline (quality tiers, code detection, PII):
    predictions are data, so evaluation is one aggregation away.

    Composes the registered text_langid operator unchanged, proving
    classifier and evaluation stay one Catalyst DAG (no materialization
    between them). One shuffle on the 25-cell (lang, pred_lang) key;
    the per-language total rides a window over the tiny matrix, not a
    second scan of the corpus.
    """
    pred = text_langid(spark, sf_dir)
    conf = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return (
        conf.withColumn("lang_total", F.sum("n_docs").over(w))
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            # exact-integer 6-dp rounding (see functions.round6_ratio)
            round6_ratio("n_docs", "lang_total").alias("share_of_actual"),
        )
    )


# ---------------------------------------------------------------------------
# bigram LM scoring (round 4)
# ---------------------------------------------------------------------------

_BIGRAM_LP_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk FROM documents
),
vocab AS (
    SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS v
    FROM (SELECT unnest(tk) AS t FROM toks)
),
big AS (
    SELECT doc_id,
        unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
    FROM toks WHERE len(tk) >= 2
),
c12 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS n12 FROM big GROUP BY bg),
pref AS (
    SELECT split_part(bg, ' ', 1) AS w1, CAST(COUNT(*) AS BIGINT) AS n1
    FROM big GROUP BY split_part(bg, ' ', 1)
),
lm AS (
    SELECT c12.bg,
        round(-ln((CAST(n12 AS DOUBLE) + 0.5)
                  / (CAST(n1 AS DOUBLE) + 0.5 * (SELECT v FROM vocab))), 6) AS nll
    FROM c12 JOIN pref ON split_part(c12.bg, ' ', 1) = pref.w1
)
SELECT big.doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
    {sql_round6_ratio("SUM(CAST(round(nll * 1000000, 0) AS {W}))", "CAST(1000000 AS {W}) * COUNT(*)")}
        AS avg_neg_logprob
FROM big JOIN lm ON big.bg = lm.bg
GROUP BY big.doc_id
"""


@query("text_bigram_logprob", oracle=_BIGRAM_LP_ORACLE, tags=("text", "quality", "lm"))
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score with add-half smoothing: each document's
    average per-bigram negative log-probability of the second token
    given the first, under the corpus's own bigram statistics — one
    Markov order above `text_unigram_logprob`, so repetitive/templated
    text (predictable continuations) separates from shuffled-word
    gibberish that unigram frequency alone cannot see (the CCNet
    direction, Wenzek et al. 2020, without an external LM).

    p(w2|w1) = (c(w1 w2) + 0.5) / (c(w1 ·) + 0.5·V): all counts and V
    are exact integers, so each probability is ONE float division of
    exactly-determined doubles — identical in both engines — then the
    `text_unigram_logprob` float discipline verbatim: ln rounded to
    6 dp per bigram TYPE, per-doc summation over exact scaled
    integers, one final division.

    Scale: bigram stats are two count shuffles; the LM table (distinct
    bigrams, vocabulary-bounded) broadcasts to score occurrences —
    map-side. Docs under 2 tokens have no bigram distribution and are
    excluded by construction on both sides.
    """
    docs = load_documents(spark, sf_dir)
    tk = docs.select("doc_id", tokens("text").alias("tk")).filter(F.size("tk") >= 2)
    big = tk.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(tk, 1, size(tk) - 1),"
                " slice(tk, 2, size(tk) - 1), (x, y) -> concat(x, ' ', y))"
            )
        ).alias("bg"),
    )
    voc = (
        docs.select(F.explode(tokens("text")).alias("t"))
        .agg(F.countDistinct("t").cast("double").alias("vocab"))
    )
    c12 = big.groupBy("bg").agg(F.count(F.lit(1)).alias("n12"))
    # prefix totals FOLD from the bigram counts (n1(w1) = sum of n12
    # over every bigram starting with w1 — the same occurrences,
    # grouped coarser, in the same long type) instead of re-exploding
    # the corpus: r15 opt — one fewer corpus pass; the prefix count
    # becomes a vocabulary-bounded aggregation of the already-shuffled
    # bigram table (guide §1.2 order-1).
    pref = (
        c12.groupBy(F.substring_index("bg", " ", 1).alias("w1"))
        .agg(F.sum("n12").alias("n1"))
    )
    lm = c12.join(
        pref, F.substring_index(c12["bg"], " ", 1) == pref["w1"]
    ).crossJoin(F.broadcast(voc)).select(
        "bg",
        F.round(
            -F.log(
                (F.col("n12").cast("double") + F.lit(0.5))
                / (F.col("n1").cast("double") + F.lit(0.5) * F.col("vocab"))
            ),
            6,
        ).alias("nll"),
    )
    scored = big.join(F.broadcast(lm), "bg")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        # exact-integer 6-dp rounding (see functions.round6_ratio)
        round6_ratio(
            "sum(cast(round(nll * 1000000, 0) as {W}))",
            "CAST(1000000 AS {W}) * count(*)",
        ).alias("avg_neg_logprob"),
    )


# ---------------------------------------------------------------------------
# hashed linear quality classifier inference (round 4)
# ---------------------------------------------------------------------------

_CLF_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, t
    FROM (
        SELECT doc_id, UNNEST(regexp_split_to_array(lower(text), '\s+')) AS t
        FROM documents
    )
    WHERE len(t) > 0
),
feat AS (
    SELECT doc_id,
        (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) AS bucket
    FROM tok
),
weighted AS (
    SELECT doc_id,
        CAST(('0x' || substr(md5('w' || CAST(bucket AS VARCHAR)), 1, 4)) AS BIGINT)
            % 2001 - 1000 AS w_milli
    FROM feat
),
per_doc AS (
    SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_terms,
        CAST(SUM(w_milli) AS BIGINT) AS sum_milli
    FROM weighted GROUP BY doc_id
),
-- score rounded to 6 dp in EXACT integer arithmetic (half away from
-- zero): score = sum_milli / (1000 * n_terms), so score*1e6 =
-- sum_milli*1000 / n_terms — via the centralized sql_round6_micro
-- twin (rounding the DOUBLE instead splits engines on exact halves
-- like 5165/80000; caught by the r8 sf0.1 sweep)
q AS (
    SELECT doc_id, n_terms, sum_milli,
        {sql_round6_micro("sum_milli", "CAST(1000 AS {W}) * n_terms")} AS score6
    FROM per_doc
)
SELECT doc_id, n_terms,
    CAST(score6 AS DOUBLE) / 1000000.0 AS score,
    round(1.0 / (1.0 + exp(-(CAST(score6 AS DOUBLE) / 1000000.0))), 6)
        AS p_keep,
    CAST(CASE WHEN sum_milli > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM q
"""


@query("text_classifier_score", oracle=_CLF_ORACLE, tags=("text", "quality", "filter", "pipeline"))
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier inference over hashed features — the
    fastText-style model-based filtering stage (Joulin et al. 2017 as
    applied by CCNet/LLaMA-style curation): every token routes to one
    of 256 weight slots by its md5 (vocabulary-free, the hashing
    trick), the document score is the mean slot weight, and the keep
    decision thresholds the logistic probability at 0.5. The weight
    table here is a deterministic function of the slot id (md5-derived
    integer milli-units in [-1, 1]) standing in for trained
    parameters; a real model swaps in a 256-float broadcast array and
    NOTHING else about the plan changes.

    Float parity: per-token weights are exact INTEGER milli-units, so
    the per-document sum is order-independent exact arithmetic — no
    fold discipline needed. The 6-dp score is rounded in EXACT integer
    arithmetic (half away from zero: score*1e6 = sum_milli*1000 /
    n_terms, integer `div` on the doubled-and-offset numerator), never
    on the double — rounding the double splits engines on exact halves
    like 5165/80000 = .0645625 (Spark HALF_UPs its shortest-decimal
    rendering, DuckDB rounds the true binary value; surfaced by the
    r8 sf0.1 full sweep, invisible at sf0.01). The sigmoid then takes
    the identical 6-dp score on both sides. The keep flag compares the
    integer sum, not a float.

    Scale: tokenize + hash + weight lookup are map-only (the "model"
    is broadcast state of O(dim), never a join); the only exchange is
    the doc_id rollup. Model-based filtering of 100 TB is exactly this
    shape — inference cost linear in tokens, zero driver state.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("t")).filter(
        F.length("t") > 0
    )
    hexv = "0123456789abcdef"
    n1 = F.instr(F.lit(hexv), F.substring(F.md5("t"), 1, 1)) - 1
    n2 = F.instr(F.lit(hexv), F.substring(F.md5("t"), 2, 1)) - 1
    bucket = (n1 * 16 + n2).cast("long")
    w_milli = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("w"), bucket.cast("string"))), 1, 4),
            16,
            10,
        ).cast("long")
        % 2001
        - 1000
    )
    per_doc = (
        tok.select("doc_id", w_milli.alias("w_milli"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("w_milli").cast("long").alias("sum_milli"),
        )
    )
    # score6 = round(sum_milli*1000 / n_terms) via the centralized
    # exact-integer helper (round6_micro) — same arithmetic the oracle
    # CTE emits through sql_round6_micro, one definition for both
    score6 = round6_micro("sum_milli", "CAST(1000 AS {W}) * n_terms")
    score = score6.cast("double") / F.lit(1000000.0)
    return per_doc.select(
        "doc_id",
        "n_terms",
        score.alias("score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 6).alias("p_keep"),
        (F.col("sum_milli") > 0).cast("long").alias("keep"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer-training merge rounds (round 4)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3


def _bpe_round_sql(r: int) -> str:
    """One unrolled BPE round: pair counts from seg{r-1}, best pair
    b{r} (max count, ties to the lexicographically first pair), and
    the re-segmented corpus seg{r}. Every symbol is wrapped in its own
    spaces (tokens joined by TWO spaces), so a single left-to-right
    replace() of ' x  y ' with ' xy ' IS canonical greedy
    non-overlapping merge application: disjoint adjacent occurrences
    share no characters (each owns its padding), and overlapping
    self-pair runs resolve left-to-right exactly as Sennrich BPE does."""
    prev = f"seg{r - 1}"
    return f"""
p{r} AS (
    SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt
    FROM (
        SELECT f,
            UNNEST(list_transform(
                range(1, len(str_split(trim(sym), '  '))),
                i -> str_split(trim(sym), '  ')[i] || ' ' || str_split(trim(sym), '  ')[i + 1]
            )) AS pair
        FROM {prev}
    ) GROUP BY pair
),
b{r} AS (SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1),
seg{r} AS (
    SELECT word, f,
        replace(sym,
            ' ' || replace((SELECT pair FROM b{r}), ' ', '  ') || ' ',
            ' ' || replace((SELECT pair FROM b{r}), ' ', '') || ' ') AS sym
    FROM {prev}
)"""


_BPE_ORACLE = (
    r"""
WITH words AS (
    SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS f
    FROM (
        SELECT UNNEST(regexp_split_to_array(lower(text), '\s+')) AS t FROM documents
    )
    WHERE len(t) > 0
    GROUP BY t
),
seg0 AS (
    SELECT word, f,
        ' ' || array_to_string(
            list_transform(range(1, len(word) + 1), i -> substr(word, i, 1)), '  '
        ) || ' ' AS sym
    FROM words
),"""
    + ",".join(_bpe_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, pair, replace(pair, ' ', '') AS merged, cnt AS pair_count FROM b{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
)


def _bpe_adjacent_pairs(sym: Column) -> Column:
    syms = F.split(F.trim(sym), "  ")
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.concat(
                F.element_at(syms, i), F.lit(" "), F.element_at(syms, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


@query("text_bpe_merges", oracle=_BPE_ORACLE, tags=("text", "tokenizer", "agg", "topk"))
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer training, first three merge rounds
    (Sennrich et al. 2016; the vocabulary-induction step behind every
    GPT/LLaMA tokenizer): segment the word vocabulary into characters,
    repeatedly find the adjacent symbol pair with the highest
    corpus frequency (ties to the lexicographically first pair), merge
    it everywhere, and emit the merge table — (round, pair, merged
    symbol, pair frequency) — the exact artifact a tokenizer ships.

    Entirely declarative: each round's winner is a 1-row aggregate
    broadcast back into the next round's re-segmentation via
    crossJoin, so the whole 3-round recursion is ONE Catalyst DAG —
    no driver-side model state at all. Merge application is a padded
    string replace with every symbol wrapped in its OWN spaces
    (' a  b ' -> ' ab ', tokens joined by two spaces): disjoint
    adjacent occurrences share no characters, so one left-to-right
    non-overlapping replace — identical in both engines — is exactly
    canonical greedy (Sennrich) merge application, including
    self-pair runs like 'a a a' -> 'aa a'.
    test_bpe_merges_match_python_reference pins the semantics against
    an independent pure-Python canonical-greedy implementation.

    Scale: pair counting runs over the DISTINCT word vocabulary
    weighted by frequency — sublinear in the corpus (the standard BPE
    trick); each round is one vocabulary-sized aggregation plus a
    1-row broadcast. At 100 TB the corpus is touched once (the word
    count); the 50k-round production loop iterates on the
    vocabulary-sized relation only, checkpointing seg every few tens
    of rounds like dedup_components does.
    """
    outs, _ = _bpe_chain(spark, sf_dir)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


def _bpe_words_seg0(spark: SparkSession, sf_dir: str):
    """Shared vocabulary + initial segmentation for the BPE queries:
    returns (words, seg0) where words is the cached (word, f)
    vocabulary and seg0 its character segmentation.

    The vocabulary is vocabulary-sized and consumed by every merge
    round's branch (each round AND its output row share this lineage):
    cache it so the corpus tokenization runs once, not once per
    downstream branch. Intentionally left persisted (same rationale as
    the simhash sig cache in multimodal.py): lazy-DataFrame contract
    means no post-action unpersist hook; CacheManager canonical-plan
    dedup keeps it to ONE vocabulary-sized entry per sf_dir across
    sweeps, and operators.release_shared_caches(spark) frees it
    between them."""
    docs = load_documents(spark, sf_dir)
    words = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .cache()
    )
    seg = words.select(
        "word",
        "f",
        F.concat(
            F.lit(" "),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.substring(F.col("word"), i, F.lit(1)),
                ),
                "  ",
            ),
            F.lit(" "),
        ).alias("sym"),
    )
    return words, seg


def _bpe_chain(spark: SparkSession, sf_dir: str):
    """The unrolled merge recursion for `text_bpe_merges` (which emits
    the per-round winners). Returns (per-round winner DataFrames, the
    (word, f, sym) relation after all merges) — all lazy: the whole
    3-round recursion is ONE Catalyst DAG whose triangular winner
    recompute Spark collapses via exchange reuse (measured r15: the
    collected-winner variant was SLOWER for merges, 1.47 s vs 1.11 s
    min-of-4 interleaved, because 3 sequential collect round trips cost
    more than the reused exchanges they replace)."""
    _, seg = _bpe_words_seg0(spark, sf_dir)
    outs = []
    for r in range(1, _BPE_ROUNDS + 1):
        best = (
            seg.select("f", F.explode(_bpe_adjacent_pairs(F.col("sym"))).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("f").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
        )
        outs.append(
            best.select(
                F.lit(r).cast("long").alias("merge_round"),
                "pair",
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                F.col("cnt").alias("pair_count"),
            )
        )
        bp = F.col("bp")
        seg = seg.crossJoin(
            F.broadcast(best.select(F.col("pair").alias("bp")))
        ).select(
            "word",
            "f",
            F.replace(
                F.col("sym"),
                F.concat(
                    F.lit(" "), F.replace(bp, F.lit(" "), F.lit("  ")), F.lit(" ")
                ),
                F.concat(
                    F.lit(" "), F.replace(bp, F.lit(" "), F.lit("")), F.lit(" ")
                ),
            ).alias("sym"),
        )
    return outs, seg


def _bpe_seg_flat(spark: SparkSession, sf_dir: str):
    """The final BPE segmentation with each round's winner COLLECTED
    (one 1-row driver fetch per round — model-sized, the k-means
    centroid precedent) and re-applied as literal replace arguments,
    so the returned relation's lineage is flat: words cache -> 3
    literal replaces. Used by `text_bpe_fertility`, whose consumer
    plan (broadcast into the corpus rollup) re-executed the
    declarative chain's nested winner lineages once per broadcast —
    22 AQE jobs; flattening measured 1.55 s -> 1.25 s min-of-4
    interleaved at sf0.1 with bit-identical output. `text_bpe_merges`
    keeps the declarative chain (collects measured SLOWER there — see
    `_bpe_chain`). Winner selection is the identical aggregate +
    (count desc, pair asc) tie-break, so the segmentation is the same
    pure function of the corpus."""
    _, seg = _bpe_words_seg0(spark, sf_dir)
    for _r in range(1, _BPE_ROUNDS + 1):
        win = (
            seg.select("f", F.explode(_bpe_adjacent_pairs(F.col("sym"))).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("f").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not win:
            # empty vocabulary: the declarative chain's crossJoin with
            # an empty broadcast empties seg from this round on
            return seg.filter(F.lit(False))
        pair = win[0]["pair"]
        seg = seg.select(
            "word",
            "f",
            F.replace(
                F.col("sym"),
                F.lit(" " + pair.replace(" ", "  ") + " "),
                F.lit(" " + pair.replace(" ", "") + " "),
            ).alias("sym"),
        )
    return seg


_BPE_FERTILITY_ORACLE = (
    r"""
WITH lw AS (
    SELECT lang, t AS word, CAST(COUNT(*) AS BIGINT) AS fl
    FROM (
        SELECT lang, UNNEST(regexp_split_to_array(lower(text), '\s+')) AS t
        FROM documents
    )
    WHERE len(t) > 0
    GROUP BY lang, t
),
words AS (
    SELECT word, CAST(SUM(fl) AS BIGINT) AS f FROM lw GROUP BY word
),
seg0 AS (
    SELECT word, f,
        ' ' || array_to_string(
            list_transform(range(1, len(word) + 1), i -> substr(word, i, 1)), '  '
        ) || ' ' AS sym
    FROM words
),"""
    + ",".join(_bpe_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))
    + f""",
fin AS (
    SELECT word, CAST(len(str_split(trim(sym), '  ')) AS BIGINT) AS n_sym
    FROM seg{_BPE_ROUNDS}
)
SELECT l.lang,
    CAST(SUM(l.fl) AS BIGINT) AS n_words,
    CAST(SUM(l.fl * len(l.word)) AS BIGINT) AS total_chars,
    CAST(SUM(l.fl * f.n_sym) AS BIGINT) AS total_tokens,
    {sql_round6_ratio("SUM(l.fl * f.n_sym)", "SUM(l.fl)")} AS fertility,
    {sql_round6_ratio("SUM(l.fl * len(l.word))", "SUM(l.fl * f.n_sym)")}
        AS chars_per_token
FROM lw l JOIN fin f ON l.word = f.word
GROUP BY l.lang
"""
)


@query(
    "text_bpe_fertility",
    oracle=_BPE_FERTILITY_ORACLE,
    tags=("text", "tokenizer", "agg", "pipeline"),
)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit: apply the merges learned by
    `text_bpe_merges` to the corpus vocabulary and report, per
    language, tokens-per-word (fertility) and characters-per-token
    (compression) — the metric a multilingual pipeline checks before
    committing to a tokenizer, because a vocabulary trained on the
    corpus-dominant language inflates every other language's sequence
    lengths (and training cost) proportionally.

    EAGER CONTRACT (r15 ADVICE): building this DataFrame already runs
    the `_bpe_seg_flat` winner collects (3 driver-side 1-row jobs) and
    materializes the shared words cache — explain-only/plan-capture
    consumers pay execution and need readable data at sf_dir
    (tests/test_plans.py pins the known consumer).

    The learned segmentation applies the same merges as
    `text_bpe_merges` (identical winner aggregate and tie-break, via
    `_bpe_seg_flat`), so this query hash-checks the APPLICATION of the
    merges, composing with the merge-table query exactly like the
    curation suites compose their stages. All aggregates are exact integer sums
    (freq x chars, freq x symbols); the two ratios are single
    int/int divisions rounded to 6 dp.

    Scale: the vocabulary relation (distinct words x symbol counts)
    broadcasts into the per-(lang, word) rollup — the corpus is
    scanned once for that rollup and never reshuffled; the report is
    |lang|-sized.
    """
    seg = _bpe_seg_flat(spark, sf_dir)
    fin = seg.select(
        "word",
        F.size(F.split(F.trim(F.col("sym")), "  ")).cast("long").alias("n_sym"),
    )
    docs = load_documents(spark, sf_dir)
    lw = (
        docs.select("lang", F.explode(tokens("text")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("fl"))
    )
    j = lw.join(F.broadcast(fin), "word")
    return j.groupBy("lang").agg(
        F.sum("fl").cast("long").alias("n_words"),
        F.sum(F.col("fl") * F.length("word")).cast("long").alias("total_chars"),
        F.sum(F.col("fl") * F.col("n_sym")).cast("long").alias("total_tokens"),
        # exact-integer 6-dp rounding (see functions.round6_ratio).
        # No {W} widening needed: these sums are corpus token/char
        # counts (~2.5e13 at 100 TB), 5 orders under int64
        round6_ratio("sum(fl * n_sym)", "sum(fl)").alias("fertility"),
        round6_ratio(
            "sum(fl * length(word))", "sum(fl * n_sym)"
        ).alias("chars_per_token"),
    )
