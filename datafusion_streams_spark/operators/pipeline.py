"""Composite training-data curation pipeline — the operators composed
into the actual 100 TB use case: quality-filter -> near-dup removal ->
deterministic sampling. One registered query per stage boundary so the
driver checks the composition end-to-end, not just the parts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_streams_spark.catalog import table
from datafusion_streams_spark.functions import round6_ratio, sql_round6_ratio, tokens
from datafusion_streams_spark.operators import query
from datafusion_streams_spark.operators.dedup import minhash_ctes, minhash_pairs

# Deterministic hash-mod sampling: the scalable idiom (TABLESAMPLE is
# engine- and run-dependent; hash-mod is reproducible everywhere).
_SAMPLE_ORACLE = """
SELECT doc_id, n_chars
FROM documents
WHERE (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) < 4
"""


@query("sample_deterministic", oracle=_SAMPLE_ORACLE, tags=("sampling",))
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~25% deterministic sample: first md5 nibble of the key < 4.

    Reproducible across engines, runs, and cluster sizes — unlike
    TABLESAMPLE/rand(), which cannot be oracle-checked at all. At scale
    this is also restartable: membership is a pure function of the key.
    """
    docs = table(spark, sf_dir, "documents")
    nibble = F.instr(
        F.lit("0123456789abcdef"), F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    ) - 1
    return docs.filter(nibble < 4).select("doc_id", "n_chars")


SAMPLE_TOPK_N = 1000

_SAMPLE_TOPK_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_totalprice,
       md5(CAST(o_orderkey AS VARCHAR)) AS sample_key
FROM orders
ORDER BY sample_key, o_orderkey
LIMIT {SAMPLE_TOPK_N}
"""


@query("sample_uniform_topk", oracle=_SAMPLE_TOPK_ORACLE, tags=("sampling", "topk"))
def sample_uniform_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size uniform sample: global top-N by key digest. Where
    hash-mod sampling fixes the RATE, this fixes the COUNT — the
    "give me exactly 1M training rows" primitive.

    Scale: compiles to TakeOrderedAndProject — per-partition N-row
    heaps, then one N-row merge on the driver side of the exchange; no
    global sort, no full shuffle, deterministic at any cluster size.
    """
    orders = table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.md5(F.col("o_orderkey").cast("string")).alias("sample_key"),
        )
        .orderBy("sample_key", "o_orderkey")
        .limit(SAMPLE_TOPK_N)
    )


_CURATION_ORACLE = rf"""
WITH {minhash_ctes()},
dupes AS (
    SELECT DISTINCT b_id AS doc_id FROM mh_pairs
),
quality AS (
    SELECT doc_id, lang,
        CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT q.doc_id, q.lang, q.n_tokens
FROM quality q
LEFT JOIN dupes d ON q.doc_id = d.doc_id
WHERE d.doc_id IS NULL
  AND q.n_tokens >= 40
  AND q.lang IN ('en', 'de', 'fr', 'es')
"""


@query("pipeline_curation", oracle=_CURATION_ORACLE, tags=("pipeline", "dedup", "text"))
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: drop near-duplicates (keep the lower doc_id
    of each pair), require >= 40 tokens, keep the target languages.

    This is the composition a reference user actually runs; every stage
    is one of the independently-oracle-checked operators above, chained
    without materialization. Near-dup detection uses the MinHash-LSH
    path (sub-quadratic — the 100 TB strategy), NOT the
    shingle-blocking join, whose stop-shingle blocks grow
    quadratically with corpus size; the oracle replays the identical
    LSH bucketing so the check is exact for what the operator claims.
    """
    docs = table(spark, sf_dir, "documents")
    dupes = minhash_pairs(spark, sf_dir).select(F.col("b_id").alias("doc_id")).distinct()
    quality = docs.select(
        "doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return (
        quality.join(dupes, "doc_id", "left_anti")
        .filter((F.col("n_tokens") >= 40) & (F.col("lang").isin("en", "de", "fr", "es")))
        .select("doc_id", "lang", "n_tokens")
    )


# ---------------------------------------------------------------------------
# stratified sampling: per-language rates, deterministic membership
# ---------------------------------------------------------------------------

# Per-stratum keep rates in 16ths (md5-nibble thresholds): downsample
# the dominant language, keep the rest whole — the mixture-balancing
# step of a training-data pipeline.
_STRATified_CASE = (
    "CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 12 WHEN 'fr' THEN 12 "
    "WHEN 'es' THEN 12 ELSE 16 END"
)

_STRAT_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
      < {_STRATified_CASE}
"""


@query("sample_stratified", oracle=_STRAT_SAMPLE_ORACLE, tags=("sampling", "stratified"))
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling (en 25%, de/fr/es 75%,
    everything else 100%) — hash-mod membership so the mixture is
    reproducible at any cluster size and restartable mid-job.

    Scale: pure map-side filter, no shuffle; the rate table is a
    compile-time CASE (at 100 strata it would broadcast-join a tiny
    rates dim instead — same plan shape).
    """
    docs = table(spark, sf_dir, "documents")
    nibble = F.instr(
        F.lit("0123456789abcdef"), F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    ) - 1
    rate = (
        F.when(F.col("lang") == "en", 4)
        .when(F.col("lang").isin("de", "fr", "es"), 12)
        .otherwise(16)
    )
    return docs.filter(nibble < rate).select("doc_id", "lang", "n_chars")


# ---------------------------------------------------------------------------
# curation v2: the round-2 operator suite composed end-to-end
# ---------------------------------------------------------------------------


def _curation_v2_oracle() -> str:
    from datafusion_streams_spark.operators.clustering import _semantic_oracle
    from datafusion_streams_spark.operators.text import (
        _CONTAMINATION_ORACLE,
        _REPETITION_ORACLE,
        CONTAM_MOD,
    )

    return rf"""
WITH rep AS ({_REPETITION_ORACLE}),
cont AS ({_CONTAMINATION_ORACLE}),
sem AS ({_semantic_oracle()}),
dupes AS (SELECT DISTINCT b_id AS doc_id FROM sem),
base AS (
    SELECT doc_id, lang,
        CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_tokens
    FROM documents WHERE doc_id % {CONTAM_MOD} != 0
)
SELECT b.doc_id, b.lang, b.n_tokens
FROM base b
JOIN rep ON b.doc_id = rep.doc_id AND rep.keep = 1
LEFT JOIN cont ON b.doc_id = cont.doc_id
LEFT JOIN dupes d ON b.doc_id = d.doc_id
WHERE (cont.doc_id IS NULL OR cont.contaminated = 0)
  AND d.doc_id IS NULL
  AND b.n_tokens >= 30
  AND (strpos('0123456789abcdef', substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 1)) - 1)
      < {_STRATified_CASE.replace('lang', 'b.lang')}
"""


@query(
    "pipeline_curation_v2",
    oracle=_curation_v2_oracle(),
    tags=("pipeline", "dedup", "text", "clustering", "sampling"),
)
def pipeline_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full round-2 curation recipe in one Catalyst DAG: repetition
    filter (Gopher) -> benchmark decontamination -> semantic near-dedup
    (SemDeDup keeps the lower doc_id of each within-cluster pair) ->
    token floor -> per-language stratified downsampling.

    Every stage is an independently-oracle-verified operator composed
    without materialization; the oracle replays the identical five
    stages, so the composition — not just the parts — is hash-checked.
    """
    from datafusion_streams_spark.operators.clustering import dedup_semantic_clusters
    from datafusion_streams_spark.operators.text import (
        CONTAM_MOD,
        text_contamination,
        text_repetition_filter,
    )

    docs = table(spark, sf_dir, "documents")
    keep = (
        text_repetition_filter(spark, sf_dir)
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    cont = (
        text_contamination(spark, sf_dir)
        .filter(F.col("contaminated") == 1)
        .select("doc_id")
    )
    dupes = (
        dedup_semantic_clusters(spark, sf_dir)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    base = docs.filter(F.col("doc_id") % CONTAM_MOD != 0).select(
        "doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    nibble = F.instr(
        F.lit("0123456789abcdef"), F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    ) - 1
    rate = (
        F.when(F.col("lang") == "en", 4)
        .when(F.col("lang").isin("de", "fr", "es"), 12)
        .otherwise(16)
    )
    return (
        base.join(keep, "doc_id", "left_semi")
        .join(cont, "doc_id", "left_anti")
        .join(dupes, "doc_id", "left_anti")
        .filter(F.col("n_tokens") >= 30)
        .filter(nibble < rate)
        .select("doc_id", "lang", "n_tokens")
    )


STRATUM_TOPK_N = 40

_STRATUM_TOPK_ORACLE = f"""
SELECT doc_id, lang, sample_key, rn FROM (
    SELECT doc_id, lang,
        md5(CAST(doc_id AS VARCHAR)) AS sample_key,
        CAST(row_number() OVER (
            PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        ) AS BIGINT) AS rn
    FROM documents
) WHERE rn <= {STRATUM_TOPK_N}
"""


@query("sample_topk_per_stratum", oracle=_STRATUM_TOPK_ORACLE, tags=("sampling", "stratified", "topk"))
def sample_topk_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count sample PER STRATUM: the first N documents of each
    language by key digest — "give me exactly 40 docs per language",
    the fixed-budget mixture constructor (rate-based stratified
    sampling cannot hit exact per-stratum counts).

    Scale: one shuffle on the stratum key + per-partition sort cut at
    N by row_number; membership is a pure function of the key, so the
    sample is reproducible at any cluster size and stable under
    corpus appends that don't displace the digest order prefix.
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(key, "doc_id")
    return (
        docs.select("doc_id", "lang", key.alias("sample_key"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= STRATUM_TOPK_N)
    )


# ---------------------------------------------------------------------------
# weighted sampling (round 3): Efraimidis-Spirakis exponential race
# ---------------------------------------------------------------------------

SAMPLE_WEIGHTED_K = 500
_U_DENOM = float(1 << 48)

_WEIGHTED_ORACLE = f"""
WITH keyed AS (
    SELECT doc_id, n_chars,
        round(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1)
                  / {_U_DENOM:.1f}), 6) / n_chars AS es_key
    FROM documents
    WHERE n_chars > 0
)
SELECT doc_id, n_chars, es_key
FROM keyed
ORDER BY es_key, doc_id
LIMIT {SAMPLE_WEIGHTED_K}
"""


@query("sample_weighted", oracle=_WEIGHTED_ORACLE, tags=("sampling", "topk", "weighted"))
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis
    2006): each document draws a deterministic uniform u from its key
    digest and races with exponential key -ln(u)/w (w = n_chars); the
    k smallest keys win, giving inclusion probability proportional to
    weight — the "sample long documents more" knob of a data mixer,
    reproducible across engines, runs, and cluster sizes.

    Float parity: u = (48-bit digest prefix + 1) / 2^48 is an exact
    double; ln is the one transcendental, rounded to 6 dp per repo
    discipline before the single IEEE division by the integer weight.
    Scale: compiles to TakeOrderedAndProject — per-partition k-heaps,
    one k-row merge, no global sort.
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10).cast("long")
        + 1
    ) / F.lit(_U_DENOM)
    es_key = F.round(-F.log(u), 6) / F.col("n_chars")
    return (
        docs.select("doc_id", "n_chars", es_key.alias("es_key"))
        .orderBy("es_key", "doc_id")
        .limit(SAMPLE_WEIGHTED_K)
    )


# ---------------------------------------------------------------------------
# sequence packing (round 4): greedy token-budget binning
# ---------------------------------------------------------------------------

PACK_BUDGET = 2048  # tokens per training-sequence bin

_PACKING_ORACLE = rf"""
WITH per_doc AS (
    SELECT lang, doc_id,
        CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
    FROM documents
),
runs AS (
    SELECT lang, doc_id, n_tok,
        CAST(SUM(n_tok) OVER (
            PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS cum
    FROM per_doc
),
binned AS (
    SELECT lang, doc_id, n_tok, (cum - n_tok) // {PACK_BUDGET} AS bin FROM runs
)
SELECT lang,
    CAST(bin AS BIGINT) AS bin,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
    CAST(MIN(doc_id) AS BIGINT) AS first_doc,
    CAST(MAX(doc_id) AS BIGINT) AS last_doc,
    {sql_round6_ratio("SUM(n_tok)", str(PACK_BUDGET))} AS fill_ratio
FROM binned GROUP BY lang, bin
"""


@query("pipeline_token_packing", oracle=_PACKING_ORACLE, tags=("pipeline", "packing", "window"))
def pipeline_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: stream each language's documents in
    doc_id order into consecutive 2048-token training bins (a doc goes
    to the bin its running-total start offset falls in) and report the
    per-bin packing efficiency — the batch-construction step that turns
    a curated corpus into fixed-budget training sequences, and the
    fill-ratio report that tells you how much padding the budget costs.

    Deterministic: bin assignment is a pure function of (lang, doc_id
    order, token counts) — identical at any parallelism, so the packing
    can be recomputed instead of stored. Scale: one shuffle per lang
    partition for the running sum (Spark range-partitions the window),
    one keyspace-sized aggregation; token counting is map-side. A doc
    straddling a boundary is charged to its starting bin (bins
    slightly overflow rather than split documents — the standard
    concat-then-chunk packing would use text_chunking downstream).
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang", "doc_id", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = per_doc.select(
        "lang",
        "doc_id",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / PACK_BUDGET).alias("bin"),
    )
    return binned.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
        # exact-integer 6-dp rounding (see functions.round6_ratio)
        round6_ratio("sum(n_tok)", str(PACK_BUDGET)).alias("fill_ratio"),
    )


# ---------------------------------------------------------------------------
# quality-tiered resampling (round 4)
# ---------------------------------------------------------------------------

QUALITY_TIERS = 10

_TIER_SAMPLE_ORACLE = f"""
WITH tiered AS (
    SELECT doc_id, lang, n_chars,
        CAST(ntile({QUALITY_TIERS}) OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS tier
    FROM documents
),
kept AS (
    SELECT * FROM tiered
    WHERE (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
          < (16 - (tier - 1))
)
SELECT tier,
    CAST(COUNT(*) AS BIGINT) AS n_kept,
    CAST(MIN(doc_id) AS BIGINT) AS min_doc,
    CAST(SUM(n_chars) AS BIGINT) AS kept_chars
FROM kept GROUP BY tier
"""


@query("sample_quality_tiers", oracle=_TIER_SAMPLE_ORACLE, tags=("sampling", "quality", "window"))
def sample_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-tiered resampling: rank documents into quality deciles
    (proxy score: n_chars, ties by doc_id) and keep a tier-dependent
    deterministic hash fraction — tier 1 keeps 16/16, each lower tier
    keeps one nibble-step less, down to 7/16 for tier 10. This is the
    quality-curriculum mixture shape (upsample the best, keep a
    long-tail floor) with hash-mod reproducibility: membership is a
    pure function of doc_id, stable across engines and cluster sizes.

    Scale note: ntile needs a total order; at 100 TB the global sort
    is replaced by approx-quantile tier BOUNDARIES (computed once,
    broadcast, assigned map-side) — same downstream shape. The exact
    ntile form here is what makes the result oracle-checkable.
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    tiered = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.ntile(QUALITY_TIERS)
        .over(Window.orderBy(F.desc("n_chars"), "doc_id"))
        .cast("long")
        .alias("tier"),
    )
    nibble = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
        )
        - 1
    )
    kept = tiered.filter(nibble < (F.lit(16) - (F.col("tier") - 1)))
    return kept.groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# curation v3 (round 4): gopher gate -> seq-dedup floor -> tier sampling
# ---------------------------------------------------------------------------


def _curation_v3_oracle() -> str:
    from datafusion_streams_spark.operators.text import _GOPHER_ORACLE, _SEQ_DEDUP_ORACLE

    return f"""
WITH g AS (
    SELECT doc_id FROM ({_GOPHER_ORACLE}) WHERE gopher_pass = 1
),
s AS (
    SELECT doc_id FROM ({_SEQ_DEDUP_ORACLE})
    WHERE tokens_removed * 2 <= tokens_kept + tokens_removed
),
tiered AS (
    SELECT doc_id, lang, n_chars,
        CAST(ntile({QUALITY_TIERS}) OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS tier
    FROM documents
),
kept AS (
    SELECT t.* FROM tiered t
    JOIN g ON t.doc_id = g.doc_id
    JOIN s ON t.doc_id = s.doc_id
    WHERE (strpos('0123456789abcdef', substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 1)) - 1)
          < (16 - (t.tier - 1))
)
SELECT lang, tier,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(MIN(doc_id) AS BIGINT) AS min_doc,
    CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM kept GROUP BY lang, tier
"""


@query(
    "pipeline_curation_v3",
    oracle=_curation_v3_oracle(),
    tags=("pipeline", "quality", "dedup", "sampling"),
)
def pipeline_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 curation recipe in one Catalyst DAG: Gopher rule
    battery -> sequence-level dedup floor (drop documents where
    duplicated windows account for more than half their tokens) ->
    quality-tier curriculum sampling -> per-(lang, tier) mixture
    report. Every stage is an independently-oracle-verified round-4
    operator composed without materialization; the oracle replays the
    identical stages nested as subqueries, so the COMPOSITION is
    hash-checked, not just the parts.

    Scale: the gates are semi-joins against doc_id-keyed relations
    (each bounded by the corpus, shuffling only ids); the tier window
    is the one global sort (replaced by approx-quantile boundaries at
    100 TB — see sample_quality_tiers); the report is keyspace-sized.
    Integer arithmetic end-to-end: the dedup floor is an exact integer
    comparison, membership is a pure hash function, and only COUNT/SUM
    of longs reach the output.
    """
    from datafusion_streams_spark.operators.text import text_gopher_rules, text_seq_dedup

    docs = table(spark, sf_dir, "documents")
    g = text_gopher_rules(spark, sf_dir).filter(F.col("gopher_pass") == 1).select("doc_id")
    s = text_seq_dedup(spark, sf_dir).filter(
        F.col("tokens_removed") * 2 <= F.col("tokens_kept") + F.col("tokens_removed")
    ).select("doc_id")
    from pyspark.sql import Window

    tiered = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.ntile(QUALITY_TIERS)
        .over(Window.orderBy(F.desc("n_chars"), "doc_id"))
        .cast("long")
        .alias("tier"),
    )
    nibble = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
        )
        - 1
    )
    kept = (
        tiered.join(g, "doc_id", "left_semi")
        .join(s, "doc_id", "left_semi")
        .filter(nibble < (F.lit(16) - (F.col("tier") - 1)))
    )
    return kept.groupBy("lang", "tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


_GROUP_SPLIT_ORACLE = """
WITH g AS (
    SELECT doc_id, source, n_chars, md5(text) AS group_key,
        CASE WHEN substr(md5(md5(text)), 1, 2) < 'cd' THEN 'train'
             WHEN substr(md5(md5(text)), 1, 2) < 'e6' THEN 'val'
             ELSE 'test' END AS split
    FROM documents
)
SELECT split, source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(COUNT(DISTINCT group_key) AS BIGINT) AS n_groups,
    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM g
GROUP BY split, source
"""


@query("sample_group_split", oracle=_GROUP_SPLIT_ORACLE, tags=("sampling", "dedup", "pipeline"))
def sample_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split is a pure function
    of the DUPLICATE GROUP (md5 of the normalized content), not of the
    row — so exact duplicates can never straddle a split boundary and
    contaminate evaluation. Thresholds are lexicographic on the hex
    digest ('cd' = 205/256 ~ 80% train, 'e6' = 230/256 ~ 10% val),
    identical string comparisons in both engines.

    At 100 TB the same contract extends to NEAR-dup groups by keying
    the split on dedup_components' component label instead of the
    content hash (dedup_rewrite_map emits exactly that mapping);
    membership stays a pure function of the key — reproducible across
    runs, restarts, and cluster sizes, no RNG state to checkpoint.

    Scale: map-side hashing plus one aggregation; the per-(split,
    source) audit emitted here is the dataset-card row a training job
    logs before writing shards.
    """
    docs = table(spark, sf_dir, "documents")
    gk = F.md5("text")
    bucket = F.substring(F.md5(gk), 1, 2)
    split = (
        F.when(bucket < "cd", "train").when(bucket < "e6", "val").otherwise("test")
    )
    return (
        docs.select(
            "doc_id", "source", "n_chars", gk.alias("group_key"), split.alias("split")
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("group_key").cast("long").alias("n_groups"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


_CURATION_V4_ORACLE = r"""
WITH cd AS (
    SELECT doc_id,
        CASE WHEN CAST(length(text)
                       - length(regexp_replace(text, '[{}()\[\];=<>|&+*/\\_-]', '', 'g'))
                       AS DOUBLE)
                  / CAST(GREATEST(length(text), 1) AS DOUBLE) > 0.03
              AND len(regexp_extract_all(
                    text,
                    '\b(def|class|return|import|function|var|const|int|void|public|if|else|for|while)\b'
                  )) >= 3
             THEN 1 ELSE 0 END AS looks_like_code
    FROM documents
),
rd AS (
    SELECT doc_id,
        round(206.835
        - 1.015 * (CAST(len(regexp_split_to_array(lower(text), '\s+')) AS DOUBLE)
                   / CAST(GREATEST(len(regexp_split_to_array(text, '[.!?]+')) - 1, 1) AS DOUBLE))
        - 84.6 * (CAST(GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS DOUBLE)
                  / CAST(len(regexp_split_to_array(lower(text), '\s+')) AS DOUBLE)),
            6) AS flesch
    FROM documents
),
lines AS (
    SELECT doc_id, trim(l) AS line
    FROM (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\n|\. ')) AS l
          FROM documents)
    WHERE length(trim(l)) >= 15
),
freq AS (
    SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d
    FROM lines GROUP BY line
),
bp AS (
    SELECT l.doc_id,
        CAST(SUM(CASE WHEN f.d >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS boilerplate_fraction
    FROM lines l JOIN freq f ON l.line = f.line
    GROUP BY l.doc_id
),
kept AS (
    SELECT d.doc_id, d.lang, d.n_chars,
        CASE WHEN substr(md5(md5(d.text)), 1, 2) < 'cd' THEN 'train'
             WHEN substr(md5(md5(d.text)), 1, 2) < 'e6' THEN 'val'
             ELSE 'test' END AS split
    FROM documents d
    JOIN cd ON d.doc_id = cd.doc_id
    JOIN rd ON d.doc_id = rd.doc_id
    LEFT JOIN bp ON d.doc_id = bp.doc_id
    WHERE cd.looks_like_code = 0
      AND rd.flesch >= 0.0
      AND COALESCE(bp.boilerplate_fraction, 0.0) <= 0.5
)
SELECT split, lang,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
    CAST(MIN(doc_id) AS BIGINT) AS min_doc
FROM kept GROUP BY split, lang
"""


@query("pipeline_curation_v4", oracle=_CURATION_V4_ORACLE, tags=("pipeline", "text", "quality", "sampling"))
def pipeline_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 governance recipe in one Catalyst DAG: code-vs-prose
    routing (code docs leave the prose pipeline) -> readability floor
    (flesch >= 0 drops degenerate run-on text) -> line-level
    boilerplate ceiling (<= 50% shared lines; docs with no qualifying
    lines pass) -> leakage-safe group split -> per-(split, lang)
    shard report. Every stage is an independently-oracle-verified
    round-4 operator (text_code_detect, text_readability,
    text_line_dedup, sample_group_split) composed WITHOUT
    materialization; the oracle replays the identical stages nested as
    CTEs, so the composition itself is hash-checked. On this fixture
    the code and boilerplate gates pass everything (no synthetic code
    docs, no cross-doc lines) — they are load-bearing on real web
    corpora and their SQL is exercised end-to-end regardless.

    Scale: three doc_id-keyed gate relations semi/left-joined (ids
    only on the wire), the line-frequency shuffle from text_line_dedup
    dominates, and the report is keyspace-sized.
    """
    from datafusion_streams_spark.operators.pipeline import sample_group_split  # noqa: F401
    from datafusion_streams_spark.operators.text import (
        text_code_detect,
        text_line_dedup,
        text_readability,
    )

    docs = table(spark, sf_dir, "documents")
    prose = text_code_detect(spark, sf_dir).filter(
        F.col("looks_like_code") == 0
    ).select("doc_id")
    readable = text_readability(spark, sf_dir).filter(
        F.col("flesch_score") >= 0.0
    ).select("doc_id")
    bp = text_line_dedup(spark, sf_dir).select("doc_id", "boilerplate_fraction")
    gk = F.md5("text")
    bucket = F.substring(F.md5(gk), 1, 2)
    split = (
        F.when(bucket < "cd", "train").when(bucket < "e6", "val").otherwise("test")
    )
    kept = (
        docs.select("doc_id", "lang", "n_chars", split.alias("split"))
        .join(prose, "doc_id", "left_semi")
        .join(readable, "doc_id", "left_semi")
        .join(bp, "doc_id", "left")
        .filter(F.coalesce("boilerplate_fraction", F.lit(0.0)) <= 0.5)
    )
    return kept.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").cast("long").alias("min_doc"),
    )


# ---------------------------------------------------------------------------
# temperature rebalancing (round 4): alpha=0.5 language flattening
# ---------------------------------------------------------------------------

TEMP_K = 10.0  # kept_i ~= TEMP_K * sqrt(n_i): the alpha=0.5 temperature knob
_U48 = float(1 << 48)

_TEMP_REBALANCE_ORACLE = f"""
WITH counts AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
rates AS (
    SELECT lang, n_docs,
        least(CAST(1.0 AS DOUBLE), round({TEMP_K} / sqrt(CAST(n_docs AS DOUBLE)), 6)) AS rate
    FROM counts
),
keyed AS (
    SELECT d.lang, r.n_docs, r.rate,
        (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1)
            / {_U48:.1f} AS u
    FROM documents d JOIN rates r USING (lang)
),
agg AS (
    SELECT lang, MAX(n_docs) AS n_docs, MAX(rate) AS rate,
        CAST(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS kept
    FROM keyed GROUP BY lang
)
SELECT lang, n_docs, rate, kept,
    {sql_round6_ratio("kept", "SUM(kept) OVER ()")} AS kept_share
FROM agg
"""


@query(
    "sample_temperature_rebalance",
    oracle=_TEMP_REBALANCE_ORACLE,
    tags=("sampling", "pipeline", "mixture"),
)
def sample_temperature_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (the multilingual-LM
    alpha=0.5 recipe, Conneau & Lample 2019): downsample each language
    at rate min(1, K/sqrt(n)) so kept counts flatten from n_i to
    ~K*sqrt(n_i) — high-resource languages shrink, low-resource ones
    survive intact. Membership is a pure function of doc_id (48-bit
    md5 prefix as uniform u), so the mix is reproducible across runs,
    engines, and cluster sizes, and restartable at 100 TB.

    Float parity: u is an exact double (integer / 2^48); sqrt is
    IEEE-correctly-rounded in both engines and the rate is rounded to
    6 dp before the compare; counts stay integral until two final
    rounded divisions.

    Scale: one keyspace-sized count aggregate, broadcast back over the
    corpus (map-side filter — the corpus never shuffles), one
    keyspace-sized report aggregate. The share window runs over
    |langs| rows.
    """
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    rate = F.least(
        F.lit(1.0), F.round(F.lit(TEMP_K) / F.sqrt(F.col("n_docs").cast("double")), 6)
    )
    rates = counts.select("lang", "n_docs", rate.alias("rate"))
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10).cast("long")
        + 1
    ) / F.lit(_U48)
    keyed = docs.select("lang", u.alias("u")).join(F.broadcast(rates), "lang")
    agg = keyed.groupBy("lang").agg(
        F.max("n_docs").alias("n_docs"),
        F.max("rate").alias("rate"),
        F.sum(F.when(F.col("u") < F.col("rate"), 1).otherwise(0)).cast("long").alias("kept"),
    )
    from pyspark.sql import Window

    withtot = agg.withColumn(
        "total_kept", F.sum("kept").over(Window.partitionBy())
    )
    return withtot.select(
        "lang",
        "n_docs",
        "rate",
        "kept",
        # exact-integer 6-dp rounding (see functions.round6_ratio)
        round6_ratio("kept", "total_kept").alias("kept_share"),
    )


# ---------------------------------------------------------------------------
# deterministic shard shuffle (round 4): training-order randomization
# ---------------------------------------------------------------------------

N_SHARDS = 16

_SHARD_SHUFFLE_ORACLE = f"""
WITH keyed AS (
    SELECT doc_id,
        md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % {N_SHARDS}
            AS shard
    FROM documents
)
SELECT doc_id, shuffle_key, CAST(shard AS BIGINT) AS shard,
    CAST(row_number() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id) AS BIGINT)
        AS pos
FROM keyed
"""


@query("pipeline_shard_shuffle", oracle=_SHARD_SHUFFLE_ORACLE, tags=("pipeline", "sampling", "window"))
def pipeline_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: every document gets a
    shard (24-bit md5 prefix mod N_SHARDS) and a position within the
    shard (rank of its full digest) — the "write shuffled training
    shards" step of a data pipeline, with the shuffle order a pure
    function of the keys instead of rand(), so any two runs (or a
    restarted run) produce byte-identical shards.

    Scale: exactly one hash-partitioned exchange on shard; each
    shard's rank sorts locally in its own task (no global sort), which
    is the same execution shape as writing N pre-shuffled output
    files at 100 TB. pos is dense and gap-free per shard, so
    downstream loaders can range-read.
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    keyed = docs.select(
        "doc_id",
        h.alias("shuffle_key"),
        F.pmod(F.conv(F.substring(h, 1, 6), 16, 10).cast("long"), F.lit(N_SHARDS))
        .cast("long")
        .alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shuffle_key",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


# ---------------------------------------------------------------------------
# corpus snapshot diff (round 4): dataset-version governance
# ---------------------------------------------------------------------------

_SNAPSHOT_DIFF_ORACLE = """
WITH v1 AS (
    SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 0
),
v2 AS (
    SELECT doc_id,
        md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END) AS h
    FROM documents WHERE doc_id % 13 <> 0
),
d AS (
    SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        CASE WHEN v1.doc_id IS NULL THEN 'added'
             WHEN v2.doc_id IS NULL THEN 'removed'
             WHEN v1.h <> v2.h THEN 'changed'
             ELSE 'unchanged' END AS change_status
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT change_status,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(MIN(doc_id) AS BIGINT) AS min_doc,
    CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM d GROUP BY change_status
"""


@query("pipeline_snapshot_diff", oracle=_SNAPSHOT_DIFF_ORACLE, tags=("pipeline", "dedup", "outer", "provenance"))
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus version diff: classify every document across two dataset
    snapshots as added / removed / changed / unchanged by content
    hash — the audit that gates a training-data release ("what moved
    since v1?") and feeds incremental reprocessing (only 'added' +
    'changed' re-enter the pipeline). Snapshots are derived
    deterministically from the fixture (v1 misses doc_id%11==0, v2
    drops %13==0 and edits %7==0) so the diff logic itself is
    hash-checked; on real data v1/v2 are two table paths.

    Scale: hashes reduce each side to (doc_id, 16 bytes) before the
    FULL OUTER join — the join carries fingerprints, never text; one
    doc_id-keyed exchange per side, then a 4-group report. At 100 TB
    this is the standard snapshot-reconciliation shape (storage-level
    change data feeds replace the join when available).
    """
    docs = table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    edited = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
    ).otherwise(F.col("text"))
    v2 = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id", F.md5(edited).alias("h")
    )
    j = v1.alias("v1").join(
        v2.alias("v2"), F.col("v1.doc_id") == F.col("v2.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("v1.doc_id").isNull(), "added")
        .when(F.col("v2.doc_id").isNull(), "removed")
        .when(F.col("v1.h") != F.col("v2.h"), "changed")
        .otherwise("unchanged")
    )
    d = j.select(
        F.coalesce(F.col("v1.doc_id"), F.col("v2.doc_id")).alias("doc_id"),
        status.alias("change_status"),
    )
    return d.groupBy("change_status").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap: uncertainty quantification without resampling passes
# ---------------------------------------------------------------------------

N_BOOTSTRAP = 32

# Poisson(1) inverse CDF on a 1/10000 grid (cumulative probabilities
# 0.3679, 0.7358, 0.9197, 0.9810, 0.9963, 0.9994) — identical integer
# thresholds in both engines, so the weights are reproducible anywhere.
_POISSON_CASE_SQL = """CASE
    WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1 WHEN u < 9197 THEN 2
    WHEN u < 9810 THEN 3 WHEN u < 9963 THEN 4 WHEN u < 9994 THEN 5
    ELSE 6 END"""

_BOOTSTRAP_ORACLE = f"""
WITH reps AS (
    SELECT d.source, d.n_chars, r.r,
        CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '-' ||
            CAST(r.r AS VARCHAR)), 1, 6)) AS BIGINT) % 10000 AS u
    FROM documents d, (SELECT unnest(generate_series(0, {N_BOOTSTRAP - 1})) AS r) r
),
weighted AS (
    SELECT source, n_chars, r, {_POISSON_CASE_SQL} AS w FROM reps
),
rep_means AS (
    SELECT source, r, SUM(w * n_chars) * 1.0 / SUM(w) AS mean_r
    FROM weighted GROUP BY source, r
),
full_mean AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           SUM(n_chars) * 1.0 / COUNT(*) AS mean_chars
    FROM documents GROUP BY source
)
SELECT f.source, f.n_docs, f.mean_chars,
       quantile_cont(m.mean_r, 0.025) AS boot_lo,
       quantile_cont(m.mean_r, 0.975) AS boot_hi
FROM rep_means m JOIN full_mean f ON m.source = f.source
GROUP BY f.source, f.n_docs, f.mean_chars
"""


@query(
    "sample_poisson_bootstrap",
    oracle=_BOOTSTRAP_ORACLE,
    tags=("sampling", "agg", "scale", "evaluation"),
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence intervals for per-source mean
    document length — the resampling scheme for data too large to
    permute: instead of drawing n-out-of-n samples (which needs global
    coordination), each record gets an independent Poisson(1) weight
    per replicate, and R replicate estimates are computed in ONE pass
    over the data. The replicate spread (2.5%/97.5% quantiles) is the
    CI a quality dashboard should print next to every corpus mean.

    Determinism: the weights are a pure function of (doc_id, replicate)
    — a 10000-grid md5 draw through the Poisson(1) inverse CDF with
    integer thresholds identical in both engines (the repo's md5-only
    hashing discipline), so the "random" resampling is byte-reproducible
    across runs, engines, and cluster sizes. Scale: the R-way fan-out
    (explode over 32 replicate ids) is bounded replication, weighted
    sums are exact integers (map-side combinable), and the quantiles
    run over R values per source, never over the corpus.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    reps = docs.select(
        "source",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(N_BOOTSTRAP - 1))).alias("r"),
        "doc_id",
    ).withColumn(
        "u",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit("-"),
                            F.col("r").cast("string"),
                        )
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(10000),
        ),
    )
    weighted = reps.withColumn("w", F.expr(_POISSON_CASE_SQL))
    rep_means = weighted.groupBy("source", "r").agg(
        (F.sum(F.col("w") * F.col("n_chars")) * F.lit(1.0) / F.sum("w")).alias("mean_r")
    )
    full_mean = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("n_chars") * F.lit(1.0) / F.count(F.lit(1))).alias("mean_chars"),
    )
    return (
        rep_means.groupBy("source")
        .agg(
            F.percentile("mean_r", F.lit(0.025)).alias("boot_lo"),
            F.percentile("mean_r", F.lit(0.975)).alias("boot_hi"),
        )
        .join(F.broadcast(full_mean), "source")
        .select("source", "n_docs", "mean_chars", "boot_lo", "boot_hi")
    )


# ---------------------------------------------------------------------------
# incremental curation over the snapshot delta (round 4)
# ---------------------------------------------------------------------------

_INCR_MIN_CHARS = 200
_INCR_MAX_CHARS = 50_000

_INCREMENTAL_ORACLE = f"""
WITH v1 AS (
    SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 0
),
v2 AS (
    SELECT doc_id,
        CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END AS text,
        lang
    FROM documents WHERE doc_id % 13 <> 0
),
v2h AS (SELECT doc_id, text, lang, md5(text) AS h FROM v2),
delta AS (
    SELECT v2h.doc_id, v2h.text, v2h.lang, v2h.h,
        CASE WHEN v1.doc_id IS NULL THEN 'added' ELSE 'changed' END AS change_status
    FROM v2h LEFT JOIN v1 ON v2h.doc_id = v1.doc_id
    WHERE v1.doc_id IS NULL OR v1.h <> v2h.h
)
SELECT d.doc_id, d.change_status,
    CAST(CASE WHEN k.h IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_new_content,
    CAST(CASE WHEN length(d.text) >= {_INCR_MIN_CHARS}
              AND length(d.text) <= {_INCR_MAX_CHARS} THEN 1 ELSE 0 END AS BIGINT)
        AS passes_quality,
    CAST(CASE WHEN k.h IS NULL
              AND length(d.text) >= {_INCR_MIN_CHARS}
              AND length(d.text) <= {_INCR_MAX_CHARS} THEN 1 ELSE 0 END AS BIGINT)
        AS admitted
FROM delta d
LEFT JOIN (SELECT DISTINCT h FROM v1) k ON d.h = k.h
"""


@query(
    "pipeline_incremental_curation",
    oracle=_INCREMENTAL_ORACLE,
    tags=("pipeline", "dedup", "provenance", "scale"),
)
def pipeline_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation: re-process ONLY the snapshot delta. The
    v1→v2 diff (same derived snapshots as `pipeline_snapshot_diff`)
    yields added+changed docs; each delta doc passes through a
    content-dedup gate against the EXISTING corpus (is its new hash
    already in v1?) and a quality gate, emitting the admit/reject
    decision per doc — the only-the-delta processing loop that turns a
    daily 100 TB recrawl into an O(changes) job.

    Scale posture: the standing corpus participates ONLY as its
    16-byte content-hash set (distinct-reduced, broadcast when small,
    hash-partitioned semi-join otherwise — never the text); delta
    detection is a doc_id-keyed join of fingerprints; every gate is
    map-side on delta rows. Work scales with |delta|, not |corpus| —
    the composition `dedup_bloom_prescreen` accelerates further by
    dropping definite-miss probes before this exact join. Verdicts are
    BIGINT 0/1 (engine-neutral hashing).
    """
    docs = table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    edited = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
    ).otherwise(F.col("text"))
    v2h = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id", edited.alias("text"), "lang", F.md5(edited).alias("h")
    )
    delta = (
        v2h.alias("v2")
        .join(v1.alias("v1"), F.col("v2.doc_id") == F.col("v1.doc_id"), "left")
        .filter(F.col("v1.doc_id").isNull() | (F.col("v1.h") != F.col("v2.h")))
        .select(
            F.col("v2.doc_id").alias("doc_id"),
            F.col("v2.text").alias("text"),
            F.col("v2.h").alias("h"),
            F.when(F.col("v1.doc_id").isNull(), "added")
            .otherwise("changed")
            .alias("change_status"),
        )
    )
    known = v1.select("h").distinct()
    j = delta.join(F.broadcast(known.withColumnRenamed("h", "kh")),
                   delta["h"] == F.col("kh"), "left")
    is_new = F.col("kh").isNull()
    ok_len = (F.length("text") >= _INCR_MIN_CHARS) & (
        F.length("text") <= _INCR_MAX_CHARS
    )
    return j.select(
        "doc_id",
        "change_status",
        is_new.cast("long").alias("is_new_content"),
        ok_len.cast("long").alias("passes_quality"),
        (is_new & ok_len).cast("long").alias("admitted"),
    )


# ---------------------------------------------------------------------------
# ingest drift monitor: population stability index (round 4)
# ---------------------------------------------------------------------------

_PSI_BAND_WIDTH = 100  # n_chars band width; bands capped at 10
_PSI_ALERT = 0.2  # the standard "significant shift" PSI threshold


def psi_oracle(key: str, bucketed_select: str) -> str:
    """The PSI CTE chain over any `(key, cohort, band)` bucketization —
    shared by the batch monitor and its streaming twin so both oracles
    are one definition. `bucketed_select` must yield columns
    (`key`, cohort in {'ref','cur'}, band)."""
    return f"""
WITH bucketed AS (
{bucketed_select}
),
bands AS (
    SELECT DISTINCT {key}, band FROM bucketed
),
nb AS (
    SELECT {key}, CAST(COUNT(*) AS BIGINT) AS n_bands FROM bands GROUP BY {key}
),
tot AS (
    SELECT {key}, cohort, CAST(COUNT(*) AS BIGINT) AS n
    FROM bucketed GROUP BY {key}, cohort
),
-- pivoted per-key totals; a key whose rows all land in one cohort
-- keeps the other cohort's total as 0 (matching the Spark side's
-- sum over exact per-band counts) instead of being inner-joined away
tot2 AS (
    SELECT nb.{key},
        CAST(COALESCE(MAX(CASE WHEN t.cohort = 'ref' THEN t.n END), 0) AS BIGINT) AS n_ref,
        CAST(COALESCE(MAX(CASE WHEN t.cohort = 'cur' THEN t.n END), 0) AS BIGINT) AS n_cur
    FROM nb LEFT JOIN tot t ON nb.{key} = t.{key}
    GROUP BY nb.{key}
),
cnt AS (
    SELECT b.{key}, b.band,
        CAST(COALESCE(SUM(CASE WHEN x.cohort = 'ref' THEN 1 END), 0) AS BIGINT) AS c_ref,
        CAST(COALESCE(SUM(CASE WHEN x.cohort = 'cur' THEN 1 END), 0) AS BIGINT) AS c_cur
    FROM bands b
    LEFT JOIN bucketed x ON b.{key} = x.{key} AND b.band = x.band
    GROUP BY b.{key}, b.band
),
terms AS (
    SELECT c.{key},
        round(
            ((CAST(c.c_ref AS DOUBLE) + 0.5) / (CAST(t.n_ref AS DOUBLE) + 0.5 * nb.n_bands)
             - (CAST(c.c_cur AS DOUBLE) + 0.5) / (CAST(t.n_cur AS DOUBLE) + 0.5 * nb.n_bands))
            * ln(((CAST(c.c_ref AS DOUBLE) + 0.5) / (CAST(t.n_ref AS DOUBLE) + 0.5 * nb.n_bands))
                 / ((CAST(c.c_cur AS DOUBLE) + 0.5) / (CAST(t.n_cur AS DOUBLE) + 0.5 * nb.n_bands))),
            6) AS term
    FROM cnt c
    JOIN nb ON c.{key} = nb.{key}
    JOIN tot2 t ON c.{key} = t.{key}
),
psi AS (
    SELECT {key},
        CAST(SUM(CAST(round(term * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000 AS psi
    FROM terms GROUP BY {key}
)
SELECT p.{key},
    t.n_ref,
    t.n_cur,
    nb.n_bands,
    p.psi,
    CAST(CASE WHEN p.psi >= {_PSI_ALERT} THEN 1 ELSE 0 END AS BIGINT) AS drifted
FROM psi p
JOIN nb ON p.{key} = nb.{key}
JOIN tot2 t ON p.{key} = t.{key}
"""


def psi_report(cnt: DataFrame, key: str) -> DataFrame:
    """PSI report from a per-(key, band) counts relation with exact
    `c_ref`/`c_cur` columns (the band universe = the rows present).
    Mirrors ``psi_oracle`` term by term: add-half smoothed shares,
    6-dp-rounded terms summed on the integer-micro grid."""
    nb = cnt.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("n_bands"))
    tots = cnt.groupBy(key).agg(
        F.sum("c_ref").cast("long").alias("n_ref"),
        F.sum("c_cur").cast("long").alias("n_cur"),
    )
    j = cnt.join(F.broadcast(nb), key).join(F.broadcast(tots), key)
    denom_half = F.lit(0.5) * F.col("n_bands")
    p_ref = (F.col("c_ref").cast("double") + F.lit(0.5)) / (
        F.col("n_ref").cast("double") + denom_half
    )
    p_cur = (F.col("c_cur").cast("double") + F.lit(0.5)) / (
        F.col("n_cur").cast("double") + denom_half
    )
    terms = j.select(
        key, F.round((p_ref - p_cur) * F.log(p_ref / p_cur), 6).alias("term")
    )
    psi = terms.groupBy(key).agg(
        (
            F.sum(F.round(F.col("term") * 1000000, 0).cast("long")).cast("double")
            / 1000000
        ).alias("psi")
    )
    return (
        psi.join(F.broadcast(nb), key)
        .join(F.broadcast(tots), key)
        .select(
            key,
            "n_ref",
            "n_cur",
            "n_bands",
            "psi",
            (F.col("psi") >= _PSI_ALERT).cast("long").alias("drifted"),
        )
    )


_DRIFT_PSI_ORACLE = psi_oracle(
    "lang",
    f"""    SELECT lang,
        CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS cohort,
        LEAST(CAST(floor(n_chars / {_PSI_BAND_WIDTH}.0) AS BIGINT), 9) AS band
    FROM documents""",
)


@query("pipeline_drift_psi", oracle=_DRIFT_PSI_ORACLE, tags=("pipeline", "quality", "agg", "monitoring"))
def pipeline_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest drift monitor: per-language Population Stability Index
    between two corpus cohorts (here the deterministic doc_id parity
    split standing in for yesterday's snapshot vs today's batch) over
    length-band histograms — the alarm a continuously-fed training
    pipeline raises BEFORE a shifted feed poisons the mixture. Bands
    are fixed-width n_chars bins (capped at 10); shares are add-half
    smoothed so empty bins never divide by zero; PSI >= 0.2 is the
    conventional "significant shift" alert.

    Float parity: every count is exact; smoothed shares are single
    IEEE divisions over halves-grid numerators; each (p_ref - p_cur) *
    ln(p_ref / p_cur) term is rounded to 6 dp and summed through the
    integer-micro grid, so the PSI is exact in any accumulation
    order (the text_dataset_card entropy discipline).

    Scale: one map-side bucketization + aggregations over a keyspace
    bounded by |lang| x 10 bands — constant-size state however large
    the corpus; cohorts come from the same scan (no second read). At
    100 TB this runs as a daily metric job on the delta partition
    alone, joined against the standing reference histogram (itself 60
    rows).
    """
    docs = table(spark, sf_dir, "documents")
    bucketed = docs.select(
        "lang",
        F.when(F.col("doc_id") % 2 == 0, "ref").otherwise("cur").alias("cohort"),
        F.least(
            F.floor(F.col("n_chars") / _PSI_BAND_WIDTH).cast("long"),
            F.lit(9).cast("long"),
        ).alias("band"),
    )
    cnt = (
        bucketed.groupBy("lang", "band")
        .pivot("cohort", ["ref", "cur"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["ref", "cur"])
        .select(
            "lang",
            "band",
            F.col("ref").cast("long").alias("c_ref"),
            F.col("cur").cast("long").alias("c_cur"),
        )
    )
    return psi_report(cnt, "lang")


# ---------------------------------------------------------------------------
# DSIR importance resampling (round 4)
# ---------------------------------------------------------------------------

_DSIR_DIM = 256  # hashed feature space; two md5 hex chars address it exactly
_DSIR_TARGET = "src0"  # the "looks like this" exemplar feed
_DSIR_KEEP_FRAC = 0.2

_DSIR_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, source,
        (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) AS bucket
    FROM (
        SELECT doc_id, source, UNNEST(regexp_split_to_array(lower(text), '\s+')) AS t
        FROM documents
    )
    WHERE len(t) > 0
),
tcnt AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok WHERE source = '{_DSIR_TARGET}' GROUP BY bucket
),
scnt AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok WHERE source <> '{_DSIR_TARGET}' GROUP BY bucket
),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok WHERE source = '{_DSIR_TARGET}'),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok WHERE source <> '{_DSIR_TARGET}'),
lr AS (
    SELECT b.bucket,
        round(
            ln((CAST(COALESCE(t.c, 0) AS DOUBLE) + 1.0)
               / (CAST((SELECT n FROM nt) AS DOUBLE) + {_DSIR_DIM}))
            - ln((CAST(COALESCE(s.c, 0) AS DOUBLE) + 1.0)
                 / (CAST((SELECT n FROM ns) AS DOUBLE) + {_DSIR_DIM})),
            6) AS lr
    FROM (SELECT UNNEST(range({_DSIR_DIM})) AS bucket) b
    LEFT JOIN tcnt t ON b.bucket = t.bucket
    LEFT JOIN scnt s ON b.bucket = s.bucket
),
per_doc AS (
    SELECT tok.doc_id, tok.source,
        CAST(COUNT(*) AS BIGINT) AS n_tok,
        CAST(SUM(CAST(round(lr.lr * 1000000, 0) AS BIGINT)) AS BIGINT) AS sum_micro
    FROM tok JOIN lr ON tok.bucket = lr.bucket
    GROUP BY tok.doc_id, tok.source
),
scored AS (
    SELECT doc_id, source,
        {sql_round6_ratio("sum_micro", "1000000 * n_tok")} AS avg_lr
    FROM per_doc
),
ranked AS (
    SELECT source, avg_lr,
        ROW_NUMBER() OVER (ORDER BY avg_lr DESC, doc_id) AS rn,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM scored) AS n_total
    FROM scored
)
SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(CASE WHEN rn <= CAST(ceil({_DSIR_KEEP_FRAC} * n_total) AS BIGINT)
        THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
    {sql_round6_ratio(
        f"SUM(CASE WHEN rn <= CAST(ceil({_DSIR_KEEP_FRAC} * n_total) AS BIGINT) "
        "THEN 1 ELSE 0 END)",
        "COUNT(*)",
    )} AS selected_share
FROM ranked GROUP BY source
"""


@query("sample_importance_dsir", oracle=_DSIR_ORACLE, tags=("sampling", "quality", "pipeline", "text"))
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023):
    score every document by how much more likely its hashed-unigram
    features are under a TARGET distribution (one exemplar feed) than
    under the raw-pool distribution, then keep the global top 20% —
    the method that tilts a web-scale crawl toward "looks like the
    high-quality exemplar" without training a classifier. Both LMs are
    add-one-smoothed 256-bucket hashed-ngram models, the DSIR trick
    that makes the estimator vocabulary-free and cluster-shardable.

    Float parity: bucket log-ratios are ln's of exact-integer ratios
    rounded to 6 dp, broadcast as a 256-row table; per-document sums
    run on the integer-micro grid (order-independent exact); the
    selection rank orders by the rounded score with doc_id
    tie-breaks, so the kept set is a pure function of the corpus.

    Scale: two passes — one token-count aggregation bounded by the
    256-bucket space (the "model fit", collect-free), one map-side
    broadcast-join rescan plus a doc_id rollup. The global top-20%
    rank is the one total sort; at 100 TB it becomes an
    approx-quantile score threshold (computed once, broadcast), same
    downstream shape — the exact rank here keeps the oracle checkable.
    Per-feed selected-share is the mixture-shift report DSIR papers
    print.
    """
    docs = table(spark, sf_dir, "documents")
    hexv = "0123456789abcdef"
    tok = docs.select(
        "doc_id", "source", F.explode(tokens("text")).alias("t")
    ).filter(F.length("t") > 0)
    n1 = F.instr(F.lit(hexv), F.substring(F.md5("t"), 1, 1)) - 1
    n2 = F.instr(F.lit(hexv), F.substring(F.md5("t"), 2, 1)) - 1
    tok = tok.select("doc_id", "source", (n1 * 16 + n2).cast("long").alias("bucket"))
    is_t = F.col("source") == _DSIR_TARGET
    cnt = tok.groupBy("bucket").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias("c_t"),
        F.sum(F.when(is_t, 0).otherwise(1)).cast("long").alias("c_s"),
    )
    tots = cnt.agg(
        (F.sum("c_t") + F.lit(_DSIR_DIM)).cast("double").alias("z_t"),
        (F.sum("c_s") + F.lit(_DSIR_DIM)).cast("double").alias("z_s"),
    )
    buckets = spark.range(_DSIR_DIM).select(F.col("id").cast("long").alias("bucket"))
    lr = (
        buckets.join(cnt, "bucket", "left")
        .na.fill(0, ["c_t", "c_s"])
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            F.round(
                F.log((F.col("c_t").cast("double") + F.lit(1.0)) / F.col("z_t"))
                - F.log((F.col("c_s").cast("double") + F.lit(1.0)) / F.col("z_s")),
                6,
            ).alias("lr"),
        )
    )
    per_doc = (
        tok.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum(F.round(F.col("lr") * 1000000, 0).cast("long")).cast("long").alias(
                "sum_micro"
            ),
        )
    )
    scored = per_doc.select(
        "doc_id",
        "source",
        # exact-integer 6-dp rounding — avg_lr feeds the global top-20%
        # rank, so a half-split here would flip the kept SET, not just
        # a printed digit (see functions.round6_ratio)
        round6_ratio("sum_micro", "1000000 * n_tok").alias("avg_lr"),
    )
    import math

    from pyspark.sql import Window

    n_total = scored.count()
    k = math.ceil(_DSIR_KEEP_FRAC * n_total)
    ranked = scored.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("avg_lr"), F.asc("doc_id")))
    )
    sel = F.when(F.col("rn") <= k, 1).otherwise(0)
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(sel).cast("long").alias("n_selected"),
        # exact-integer 6-dp rounding (see functions.round6_ratio)
        round6_ratio(
            f"sum(CASE WHEN rn <= {k} THEN 1 ELSE 0 END)", "count(*)"
        ).alias("selected_share"),
    )
