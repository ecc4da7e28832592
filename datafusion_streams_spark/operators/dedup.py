"""Deduplication operators over the ``documents`` table.

Four strategies, all built from JVM-side primitives (no Python UDFs in
any hot path), each oracle-checked against DuckDB:

  - exact:          content-hash groupBy (one shuffle on the digest)
  - ngram-jaccard:  prefix-filtered shingle blocking + exact Jaccard
                    verification (exact at any threshold)
  - minhash-lsh:    MinHash signatures -> banded LSH buckets ->
                    candidate pairs -> exact-Jaccard verification
  - simhash:        per-document 32-bit SimHash fingerprints

Hash-function choice: md5 (identical semantics in Spark and DuckDB) so
the oracle replays signatures bit-for-bit. At production scale you
would swap xxhash64 into ``minhash_expr`` — same operator shape,
cheaper hash.

Scale posture: naive shingle-blocking joins explode quadratically on
stop shingles — ngram-jaccard therefore blocks only on each doc's
rarest shingles (prefix filtering, still exact); MinHash-LSH is the
100 TB path (cost ~ n_docs x n_bands, and bucket join keys are
uniformly distributed by construction). Every verification join only
touches candidate pairs, never all pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_streams_spark.functions import (
    minhash_expr,
    minhash_halves,
    round6_ratio,
    sql_round6_ratio,
    word_shingles,
)
from datafusion_streams_spark.catalog import load_documents, table
from datafusion_streams_spark.operators import query

N_MINHASH = 16
N_BANDS = 8  # 2 rows per band: P(candidate | jaccard s) = 1-(1-s^2)^8
JACCARD_THRESHOLD = 0.6

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT
    md5(text)     AS fingerprint,
    MIN(doc_id)   AS keeper_doc_id,
    COUNT(*)      AS n_copies
FROM documents
GROUP BY md5(text)
"""


@query("dedup_exact", oracle=_EXACT_ORACLE, tags=("dedup", "agg"))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: keep the lowest doc_id per digest.

    Scale: the shuffle key is a uniform 128-bit digest — perfectly
    balanced regardless of document skew; map-side partial aggregation
    collapses copies early.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("fingerprint")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# shared shingle/jaccard machinery (Spark + SQL mirror)
# ---------------------------------------------------------------------------


def _doc_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) — distinct 3-word shingles per document, as a cached
    array column.

    The fixture is one small parquet file = one input split, which
    would serialize the (expensive) shingle+hash pipeline onto a single
    task; repartition by doc_id first so the map work spreads across
    the cluster. On a real 100 TB table the scan is already split and
    this repartition is a cheap no-op-shaped shuffle of raw text.
    """
    docs = load_documents(spark, sf_dir)
    return docs.select("doc_id", word_shingles("text", 3).alias("sh")).cache()


def _prefix_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs via prefix filtering (Chaudhuri/Bayardo AllPairs):
    block only on each document's rarest shingles, not all of them.

    Order the shingle universe globally by (document frequency ASC,
    shingle ASC) and keep each document's first
    p = floor((1 - t) * |A|) + 1 shingles. Exactness: let x be the
    globally-smallest element of A∩B. Every element of A ranked before
    x is in A\\B, and J(A,B) >= t implies |A\\B| <= (1-t)|A|, so x sits
    within A's first (1-t)|A|+1 shingles — and symmetrically within
    B's prefix. Hence every pair with Jaccard >= t shares a PREFIX
    shingle and equi-joining prefixes loses nothing.

    Scale: this is what kills the stop-shingle quadratic — a shingle
    shared by m documents produces m^2/2 block pairs, but ubiquitous
    shingles have the highest document frequency and never enter any
    prefix. Join fan-out concentrates on rare shingles, where m is
    small by definition.
    """
    from pyspark.sql import Window

    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    w_size = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_sh", F.count(F.lit(1)).over(w_size))
    )
    prefix = ranked.filter(
        F.col("rn") <= F.floor(F.lit(1.0 - threshold) * F.col("n_sh")) + 1
    ).select("doc_id", "shingle", "n_sh", "rn")
    a = prefix.alias("a")
    b = prefix.alias("b")
    # size filter (also lossless): J(A,B) >= t forces t*|B| <= |A| and
    # t*|A| <= |B|, so wildly different-sized docs never become
    # candidates — the second standard AllPairs pruning rule
    #
    # positional filter (PPJoin, Xiao et al. 2008 — lossless, r16): a
    # matching prefix shingle at rank i of A and j of B bounds the
    # overlap at 1 + min(|A|-i, |B|-j) (everything else common must
    # rank after it in BOTH docs for the row generated by the pair's
    # GLOBALLY-smallest common shingle — which the prefix theorem
    # guarantees is in both prefixes). J >= t needs overlap >=
    # t/(1+t)*(|A|+|B|), so rows whose bound falls short can never be
    # the witnessing row of a true pair; a true pair always survives
    # via its smallest common shingle. The 1e-9 slack keeps float
    # roundoff from ever pruning a borderline TRUE pair (it can only
    # let a false candidate through to verification).
    alpha = F.lit(threshold / (1.0 + threshold)) * (
        F.col("a.n_sh") + F.col("b.n_sh")
    ) - F.lit(1e-9)
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") >= threshold * F.col("b.n_sh"))
            & (F.col("b.n_sh") >= threshold * F.col("a.n_sh"))
            & (
                F.least(
                    F.col("a.n_sh") - F.col("a.rn"), F.col("b.n_sh") - F.col("b.rn")
                )
                + 1
                >= alpha
            ),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


def _verify_pairs(cand: DataFrame, withsh: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs only: join (a_id, b_id) back to
    the per-doc shingle arrays and intersect — per-candidate cost,
    never all-pairs."""
    sh_a = withsh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    sh_b = withsh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sh_a, "a_id")
        .join(sh_b, "b_id")
        .select("a_id", "b_id", (inter / union).alias("jaccard"))
    )


# SQL mirror of word_shingles(k=3) + _jaccard_pairs. The range bounds
# replicate F.sequence(0, greatest(n-3, 0)) -> 1-based starts 1..n-2.
# The CASE mirrors word_shingles' n < k branch (one whole-document
# shingle): without it, tk[i+1]/tk[i+2] index out of range for short
# docs and NULL-propagate through || into a NULL shingle.
_SHINGLES_SQL = r"""
toks AS (
    SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(tk) >= 3
               THEN list_transform(range(1, len(tk) - 2 + 1),
                                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
               ELSE [array_to_string(tk, ' ')] END) AS shingle
    FROM toks
)
"""

_JACCARD_PAIRS_SQL = """
sizes AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT a_id, b_id, inter.n_inter / (sa.n_sh + sb.n_sh - inter.n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.a_id = sa.doc_id
    JOIN sizes sb ON inter.b_id = sb.doc_id
)
"""

_NGRAM_ORACLE = f"""
WITH {_SHINGLES_SQL.strip().rstrip()},
{_JACCARD_PAIRS_SQL.strip()}
SELECT a_id, b_id, jaccard FROM pairs WHERE jaccard >= {JACCARD_THRESHOLD}
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE, tags=("dedup", "similarity", "join"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-word-shingle Jaccard >= 0.6, blocked by
    prefix filtering on each document's rarest shingles.

    Exact (not approximate): prefix filtering provably retains every
    pair above the threshold — see ``_prefix_candidates`` — so the
    result is identical to blocking on all shared shingles, while a
    hot stop-shingle ("of the and") no longer produces a quadratic
    block. The oracle intentionally keeps the naive all-shared-shingle
    formulation: an independent derivation of the same pair set.
    """
    withsh = _doc_shingle_arrays(spark, sf_dir)
    sh = withsh.select("doc_id", F.explode("sh").alias("shingle"))
    cand = _prefix_candidates(sh, JACCARD_THRESHOLD)
    return _verify_pairs(cand, withsh).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_ctes() -> str:
    """The MinHash-LSH pipeline as a reusable SQL WITH-body ending in
    ``mh_pairs`` (verified near-dup pairs) — shared by the standalone
    query's oracle and the curation pipeline's oracle."""
    mh_cols = ",\n        ".join(
        f"MIN(h1 + {s} * h2) AS mh{s}" for s in range(N_MINHASH)
    )
    band_selects = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, mh{2*b} AS v1, mh{2*b+1} AS v2 FROM sig"
        for b in range(N_BANDS)
    )
    return f"""{_SHINGLES_SQL.strip()},
hashed AS (
    SELECT doc_id,
        CAST(('0x' || substr(md5(shingle), 1, 12)) AS BIGINT)  AS h1,
        CAST(('0x' || substr(md5(shingle), 13, 12)) AS BIGINT) AS h2
    FROM sh
),
sig AS (
    SELECT doc_id,
        {mh_cols}
    FROM hashed GROUP BY doc_id
),
bands AS (
{band_selects}
),
cand AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2 AND a.doc_id < b.doc_id
),
{_JACCARD_PAIRS_SQL.strip()},
mh_pairs AS (
    SELECT p.a_id, p.b_id, p.jaccard
    FROM cand c JOIN pairs p ON c.a_id = p.a_id AND c.b_id = p.b_id
    WHERE p.jaccard >= {JACCARD_THRESHOLD}
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {minhash_ctes()}
SELECT a_id, b_id, jaccard FROM mh_pairs
"""


def _minhash_signatures(withsh: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh15): the 16-permutation MinHash signature from
    the cached per-doc shingle arrays — one explode, one md5 per
    shingle, Kirsch-Mitzenmacher derived family, min-aggregated with
    map-side partial mins. Shared by the LSH bucketing stage and the
    sketch-accuracy audit."""
    sh = withsh.select("doc_id", F.explode("sh").alias("shingle"))
    h1, h2 = minhash_halves(F.col("shingle"))
    hashed = sh.select("doc_id", h1.alias("h1"), h2.alias("h2")).select(
        "doc_id",
        *[minhash_expr(F.col("h1"), F.col("h2"), s).alias(f"h{s}") for s in range(N_MINHASH)],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{s}").alias(f"mh{s}") for s in range(N_MINHASH)]
    )


def minhash_candidates(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(candidate pairs, per-doc shingle arrays) — the MinHash-LSH
    bucketing stage, before exact verification.

    Shared by ``minhash_pairs`` (Jaccard-verified near-dups) and
    ``dedup_containment`` (asymmetric containment over the same
    candidates).

    MinHash (16 perms) -> banded LSH (8 bands x 2 rows) -> verified
    near-dup pairs at Jaccard >= 0.6.

    At the 0.98-Jaccard similarity of the planted near-dups the miss
    probability is (1 - 0.98^2)^8 ~ 2.6e-12 — effectively exact. This
    is the 100 TB dedup path:
      - shingles are computed ONCE (explode), md5-hashed ONCE, and the
        16 hash-family members derive by Kirsch–Mitzenmacher double
        hashing (integer multiply-add — see ``functions.minhash_expr``)
        before the min-aggregated signature (one shuffle on doc_id
        with map-side partial mins over 8-byte longs);
      - the band-bucket self-join keys directly on the two integer
        minhashes of the band — no digest re-hash;
      - verification joins the (tiny) candidate set back to per-doc
        shingle arrays and computes exact Jaccard via array_intersect
        — per candidate pair, never all pairs.
    (A pure map-only signature via 16 array transforms was tried and is
    ~2x slower: Catalyst inlines the shingle expression into every
    signature column, recomputing shingles 16x per doc.)
    """
    # Shingle ONCE into array form and cache that (5 000 rows of
    # array<string> — compact); the exploded relation for hashing and
    # the per-doc arrays for verification both derive from it.
    withsh = _doc_shingle_arrays(spark, sf_dir)
    sig = _minhash_signatures(withsh)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"mh{2*b}").alias("v1"),
                        F.col(f"mh{2*b+1}").alias("v2"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.v1").alias("v1"),
        F.col("bb.v2").alias("v2"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v1") == F.col("b.v1"))
            & (F.col("a.v2") == F.col("b.v2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    return cand, withsh


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a_id, b_id, jaccard) — MinHash-LSH verified near-dup pairs at
    Jaccard >= 0.6; the Spark mirror of ``minhash_ctes``'s ``mh_pairs``,
    shared by ``dedup_minhash_lsh``, ``dedup_components``,
    ``dedup_component_stats``, ``dedup_rewrite_map`` and the curation
    pipelines. Cached: the pair relation is edge-list-sized (near-dup
    candidates, not the corpus) and five registered queries derive from
    it — Spark's CacheManager dedupes repeated calls by canonical plan,
    so the signature/banding/verification pipeline runs once per
    session instead of once per query (spillable MEMORY_AND_DISK)."""
    cand, withsh = minhash_candidates(spark, sf_dir)
    return (
        _verify_pairs(cand, withsh)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .cache()
    )


@query("dedup_minhash_lsh", oracle=_minhash_oracle(), tags=("dedup", "lsh", "join"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash-LSH — see ``minhash_pairs``."""
    return minhash_pairs(spark, sf_dir)


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------

N_SIMHASH_BITS = 32


def _bit_expr_sql(j: int) -> str:
    """Bit j of a token's md5, from hex digit j//4 (1-based, from left)."""
    return (
        f"((strpos('0123456789abcdef', substr(m, {j // 4 + 1}, 1)) - 1) >> {j % 4}) & 1"
    )


def _simhash_oracle() -> str:
    votes = ",\n        ".join(
        f"SUM(CASE WHEN ({_bit_expr_sql(j)}) = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(N_SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(N_SIMHASH_BITS)
    )
    return rf"""
WITH tok AS (
    SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tk
    FROM documents
),
h AS (SELECT doc_id, md5(tk) AS m FROM tok),
v AS (
    SELECT doc_id,
        {votes}
    FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM v
"""


@query("dedup_simhash", oracle=_simhash_oracle(), tags=("dedup", "fingerprint"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash over distinct tokens.

    Near-dup detection then reduces to Hamming-distance banding on the
    fingerprint (pairs within distance d share at least one of d+1
    bit-bands) — the fingerprint itself is the verifiable unit here.

    Scale: explode(tokens) -> groupBy(doc_id) is one shuffle; the 32
    bit-votes are plain SUM aggregates (map-side combined).
    """
    docs = load_documents(spark, sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), r"\s+"))).alias("tk"),
    ).withColumn("m", F.md5("tk"))
    vote_exprs = [
        F.sum(
            F.when(
                F.expr(
                    f"((shiftright(instr('0123456789abcdef', substring(m, {j // 4 + 1}, 1)) - 1, {j % 4}) & 1)) = 1"
                ),
                1,
            ).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(N_SIMHASH_BITS)
    ]
    v = tok.groupBy("doc_id").agg(*vote_exprs)
    combine = None
    for j in range(N_SIMHASH_BITS):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        combine = term if combine is None else combine + term
    return v.select("doc_id", combine.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# near-dup clustering: connected components + canonical keeper
# ---------------------------------------------------------------------------


def _components_oracle() -> str:
    return f"""
WITH RECURSIVE {minhash_ctes()},
edges AS (
    SELECT a_id AS src, b_id AS dst FROM mh_pairs
    UNION
    SELECT b_id AS src, a_id AS dst FROM mh_pairs
),
reach(src, node) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src
)
SELECT src AS doc_id, CAST(LEAST(src, MIN(node)) AS BIGINT) AS canonical_id
FROM reach GROUP BY src
"""


def minhash_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, canonical_id) — the converged component labels for the
    MinHash near-dup graph, recomputed from the pair graph on every
    call. The frame reads the fixpoint's final-round localCheckpoint,
    which ``release_shared_caches`` frees."""
    p = minhash_pairs(spark, sf_dir).select("a_id", "b_id")
    return min_label_components(p, id_col="doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
    )


@query("dedup_components", oracle=_components_oracle(), tags=("dedup", "graph", "iterative"))
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc in a
    duplicate cluster mapped to the cluster's canonical (minimum)
    doc_id — the keeper-selection step after pair finding.

    Implementation is iterative min-label propagation (the Pregel/
    GraphX idiom expressed in DataFrames): each round, every node takes
    the min of its own label and its neighbors' labels; converged when
    the label-sum fixpoint is reached. Rounds = component diameter + 1
    — near-dup clusters are tiny (pairs/triples), so 2-3 shuffles
    total on the (candidate-pair-sized, not corpus-sized) edge list.
    The DuckDB oracle computes the same fixpoint via a recursive
    transitive-closure CTE.
    """
    return minhash_labels(spark, sf_dir)


def min_label_components(pairs: DataFrame, id_col: str) -> DataFrame:
    """(id_col, canonical_id) — connected components over an undirected
    pair graph via iterative min-label propagation with POINTER
    DOUBLING (the Pregel/GraphX idiom plus the Shiloach-Vishkin /
    pointer-jumping shortcut, expressed in DataFrames).

    Each round does (1) edge propagation — every node takes the min of
    its own and its neighbors' labels — then (2) doubling — label :=
    label(label), one |V|-sized self-join. Propagation alone converges
    in O(diameter) rounds, which is fine for the star-shaped clusters
    near-dup graphs usually produce but degenerate for chain-shaped
    ones (gradual-drift dup chains: A~B~C~... where ends never pair
    directly); the doubling step cuts convergence to O(log diameter),
    so a 1000-doc drift chain needs ~10 shuffle rounds, not ~1000
    (measured: tools/scale_probe.py --only cc_chain, SCALE_NOTES.md).

    Each round REPLACES lineage with a localCheckpoint: without it the
    plan stacks join->union->groupBy per iteration and a long-diameter
    component re-plans (and re-executes on any retry) an ever-deeper
    DAG. The superseded round's blocks are unpersisted eagerly so
    cached state stays O(|V|), not O(|V| * rounds). That checkpoint is
    one root execution per round in the SQL status store, so the
    rounds a call took are the ``localCheckpoint`` executions it left
    there (``tools/reuse_audit.local_checkpoints`` counts them).
    """
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .union(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .cache()
    )
    # safety bound: with doubling, rounds ~ log2(diameter) + 2, so 64
    # covers any graph that fits in an address space
    max_rounds = 64
    cur = None
    prev_sum = None
    for _ in range(max_rounds):
        if cur is None:
            # Round 1 fused with initialization (r16): labels start at
            # identity (label(x) = x), so the first propagation's
            # messages are just the raw neighbor ids — min over self
            # and neighbors is ``least(src, min(dst))`` in ONE
            # aggregation over the edge list. Identical by definition
            # to initializing a label relation and joining it in, but
            # skips the |V| distinct+checkpoint pass AND round 1's
            # edge join. Every node appears as src (edges hold both
            # directions), so the node set is unchanged too.
            half = (
                edges.groupBy("src")
                .agg(F.min("dst").alias("mn"))
                .select(
                    F.col("src").alias("node"),
                    F.least("src", "mn").alias("label"),
                )
                # both doubling legs read this relation — see the
                # cache note on the general-round branch below
                .cache()
            )
        else:
            msgs = edges.join(cur, F.col("dst") == F.col("node")).select(
                F.col("src").alias("node"), "label"
            )
            half = (
                msgs.union(cur.select("node", "label"))
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                # both doubling legs read this relation; without a cache
                # the join+union+groupBy propagation subtree sits on both
                # legs and can execute twice per round unless AQE
                # exchange reuse happens to fire (r12 ADVICE).
                # Unpersisted right after the round's checkpoint
                # materializes.
                .cache()
            )
        # pointer doubling: label := label(label). Every label IS a
        # node id (labels are mins over node ids and every node is in
        # the relation), and label(x) <= x, so the looked-up label can
        # only improve; the left join + coalesce keeps the row intact
        # either way.
        lbl = half.select(
            F.col("node").alias("lnode"), F.col("label").alias("llabel")
        )
        nxt = (
            half.join(lbl, half["label"] == lbl["lnode"], "left")
            .select(
                "node",
                F.coalesce("llabel", "label").alias("label"),
            )
            .localCheckpoint()  # eager: materializes + truncates lineage
        )
        half.unpersist()
        label_sum = nxt.agg(F.sum("label")).first()[0]
        if cur is not None:
            cur.unpersist()
        cur = nxt
        if label_sum == prev_sum:
            break
        prev_sum = label_sum
    else:
        raise RuntimeError(
            f"min_label_components did not converge in {max_rounds} rounds"
        )
    edges.unpersist()
    return cur.select(
        F.col("node").alias(id_col), F.col("label").alias("canonical_id")
    )


# ---------------------------------------------------------------------------
# duplicate-cluster size distribution
# ---------------------------------------------------------------------------


def _component_stats_oracle() -> str:
    return f"""
WITH RECURSIVE {minhash_ctes()},
edges AS (
    SELECT a_id AS src, b_id AS dst FROM mh_pairs
    UNION
    SELECT b_id AS src, a_id AS dst FROM mh_pairs
),
reach(src, node) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src
),
labels AS (
    SELECT src AS doc_id, CAST(LEAST(src, MIN(node)) AS BIGINT) AS canonical_id
    FROM reach GROUP BY src
),
comp AS (
    SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM labels GROUP BY canonical_id
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size - 1) AS BIGINT) AS removable_docs
FROM comp GROUP BY cluster_size
"""


@query(
    "dedup_component_stats",
    oracle=_component_stats_oracle(),
    tags=("dedup", "graph", "agg"),
)
def dedup_component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many near-dup clusters
    exist at each size and how many documents dedup would remove
    (cluster_size - 1 per cluster, keeping the canonical doc) — the
    dedup-rate report every curation run publishes before committing a
    deletion.

    Composition of the verified components fixpoint + two tiny
    aggregations over the (cluster-count-sized) label relation; the
    corpus is touched only by the pair-finding stage.
    """
    labels = minhash_labels(spark, sf_dir)
    comp = labels.groupBy("canonical_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return comp.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).cast("long").alias("removable_docs"),
    )


# ---------------------------------------------------------------------------
# asymmetric containment (doc-in-doc duplication)
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8


def _containment_oracle() -> str:
    expr = "inter.n_inter / least(sa.n_sh, sb.n_sh)"
    return f"""
WITH {minhash_ctes()}
SELECT c.a_id, c.b_id, p.jaccard, {expr} AS containment
FROM cand c
JOIN inter ON c.a_id = inter.a_id AND c.b_id = inter.b_id
JOIN pairs p ON c.a_id = p.a_id AND c.b_id = p.b_id
JOIN sizes sa ON c.a_id = sa.doc_id
JOIN sizes sb ON c.b_id = sb.doc_id
WHERE {expr} >= {CONTAINMENT_THRESHOLD}
"""


@query(
    "dedup_containment",
    oracle=_containment_oracle(),
    tags=("dedup", "lsh", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment over the LSH candidates:
    |A∩B| / min(|A|, |B|) — flags a document whose shingles are (near-)
    entirely inside another (quotation, concatenation, doc-in-doc
    duplication), which symmetric Jaccard under-scores when the sizes
    differ (Broder 1997's containment measure).

    Scale: same bucketed candidate generation as ``dedup_minhash_lsh``
    (sub-quadratic); the containment score joins candidates back to the
    cached per-doc shingle arrays — per-candidate cost only.
    """
    cand, withsh = minhash_candidates(spark, sf_dir)
    sh_a = withsh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    sh_b = withsh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    containment = inter / F.least(F.size("sh_a"), F.size("sh_b"))
    return (
        cand.join(sh_a, "a_id")
        .join(sh_b, "b_id")
        .select(
            "a_id",
            "b_id",
            (inter / union).alias("jaccard"),
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# cross-source overlap matrix (round 3)
# ---------------------------------------------------------------------------

_CROSS_SOURCE_ORACLE = r"""
WITH toks AS (
    SELECT source, regexp_split_to_array(lower(text), '\s+') AS tk FROM documents
),
sh AS (
    SELECT DISTINCT source,
        unnest(CASE WHEN len(tk) >= 3
               THEN list_transform(range(1, len(tk) - 2 + 1),
                                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
               ELSE [array_to_string(tk, ' ')] END) AS shingle
    FROM toks
)
SELECT a.source AS src_lo, b.source AS src_hi,
       CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
GROUP BY 1, 2
"""


@query("dedup_source_overlap", oracle=_CROSS_SOURCE_ORACLE, tags=("dedup", "agg", "provenance"))
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source overlap matrix: for every pair of sources, how many
    distinct 3-word shingles appear in both — the provenance report
    that surfaces mirrored feeds and shared boilerplate BEFORE any
    per-document dedup runs (a source pair with outsized overlap is a
    mirror candidate; its documents route to the near-dup pipeline).

    Scale: ONE vocabulary-sized shuffle, keyed on the shingle, with a
    fully-codegen integer aggregation. Each source gets a bit (sources
    are enumerable — a catalog-sized collect, like a join dim);
    ``bit_or`` folds each shingle's source-set into long bitmasks with
    map-side partial aggregation (plain long XOR-tree — no set objects,
    no ObjectHashAggregate fallback, which made the collect_set variant
    7x slower). The per-shingle masks then broadcast-nested-loop
    against the sources^2-row pair table (linear scan x bit tests,
    map-side) and the final count aggregates sources^2-bounded output.
    The original formulation self-joined the (source, shingle)
    vocabulary on shingle — a second full-vocabulary shuffle plus S^2
    row fan-out per hot shingle — the weakest shuffle shape in the
    dedup suite at 100 TB.

    Wide catalogs (r8): sources are chunked 63 per mask (bits 0..62 —
    bit 63 is the sign bit of Spark's only 64-bit integer type, and
    ``F.lit(1 << 63)`` has no LongType literal), one ``bit_or`` mask
    column per chunk in the SAME single aggregation, so a 500-feed
    catalog costs 8 long columns, not another shuffle. Pair rows carry
    (chunk, bit) coordinates and the join predicate tests the matching
    mask column. Same shingle definition as ``dedup_ngram_jaccard``
    (word_shingles k=3), so the report composes with the dedup suite.
    """
    docs = load_documents(spark, sf_dir)
    sources = sorted(r.source for r in docs.select("source").distinct().collect())
    ch = 63  # bits per mask chunk (sign bit excluded)
    n_chunks = max(1, -(-len(sources) // ch))
    chunk_of = F.create_map(
        *[x for i, s in enumerate(sources) for x in (F.lit(s), F.lit(i // ch))]
    )
    bit_of = F.create_map(
        *[x for i, s in enumerate(sources) for x in (F.lit(s), F.lit(1 << (i % ch)))]
    )
    # reuse the suite-shared cached (doc_id, shingle-array) relation —
    # the regexp+HOF shingle pipeline is the dominant cost and is
    # already materialized by any earlier dedup query in the session
    withsh = _doc_shingle_arrays(spark, sf_dir)
    src_of = docs.select(
        "doc_id",
        chunk_of[F.col("source")].alias("chunk"),
        bit_of[F.col("source")].alias("b"),
    )
    sh = withsh.join(src_of, "doc_id").select(
        "chunk", "b", F.explode("sh").alias("shingle")
    )
    masks = sh.groupBy("shingle").agg(
        *[
            F.bit_or(
                F.when(F.col("chunk") == c, F.col("b")).otherwise(F.lit(0))
            ).alias(f"mask{c}")
            for c in range(n_chunks)
        ]
    )
    pairs = spark.createDataFrame(
        [
            (
                sources[i],
                sources[j],
                i // ch,
                1 << (i % ch),
                j // ch,
                1 << (j % ch),
            )
            for i in range(len(sources))
            for j in range(i + 1, len(sources))
        ],
        "src_lo string, src_hi string, "
        "chunk_lo int, bit_lo long, chunk_hi int, bit_hi long",
    )

    def _hit(chunk_col: str, bit_col: str):
        # (chunk == c AND mask_c & bit != 0) folded over the chunks —
        # an integer compare per chunk inside the codegen'd BNL
        # predicate, no array/element_at materialization per row
        cond = F.lit(False)
        for c in range(n_chunks):
            cond = cond | (
                (F.col(chunk_col) == c)
                & (F.col(f"mask{c}").bitwiseAND(F.col(bit_col)) != 0)
            )
        return cond

    return (
        masks.join(F.broadcast(pairs), _hit("chunk_lo", "bit_lo") & _hit("chunk_hi", "bit_hi"))
        .groupBy("src_lo", "src_hi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_shingles"))
    )


# ---------------------------------------------------------------------------
# corpus rewrite map (round 4): apply the dedup decision
# ---------------------------------------------------------------------------


def _rewrite_map_oracle() -> str:
    return f"""
WITH RECURSIVE {minhash_ctes()},
edges AS (
    SELECT a_id AS src, b_id AS dst FROM mh_pairs
    UNION
    SELECT b_id AS src, a_id AS dst FROM mh_pairs
),
reach(src, node) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src
),
labels AS (
    SELECT src AS doc_id, CAST(LEAST(src, MIN(node)) AS BIGINT) AS canonical_id
    FROM reach GROUP BY src
)
SELECT d.doc_id,
       COALESCE(l.canonical_id, d.doc_id) AS keeper_id,
       CAST(COALESCE(l.canonical_id, d.doc_id) <> d.doc_id AS BIGINT) AS is_dup
FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
"""


@query("dedup_rewrite_map", oracle=_rewrite_map_oracle(), tags=("dedup", "graph", "join"))
def dedup_rewrite_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applied dedup decision for EVERY document: (doc_id,
    keeper_id, is_dup) — docs outside any near-dup cluster keep
    themselves, clustered docs point at the cluster's canonical
    minimum. This is the relation a curation job writes next to the
    corpus so downstream consumers can drop or remap duplicates with
    one equi-join (the MERGE-input shape), completing the find-pairs ->
    cluster -> KEEP/DROP pipeline.

    Scale: the label relation is corpus-FRACTION-sized on a real web
    corpus (30-50% of docs sit in near-dup clusters), so this is a
    plain equi-join on doc_id — AQE broadcasts it when the measured
    size is small and falls back to sort-merge when it isn't. No
    forced broadcast, no driver-side rows anywhere in the chain.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")
    labels = minhash_labels(spark, sf_dir).withColumnRenamed(
        "canonical_id", "keeper_id"
    )
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("keeper_id"), F.col("doc_id")).alias("keeper_id"),
        (F.coalesce(F.col("keeper_id"), F.col("doc_id")) != F.col("doc_id"))
        .cast("long")
        .alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# novelty curve (round 4): incremental-crawl dedup value measurement
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = f"""
WITH {_SHINGLES_SQL.strip()},
first_seen AS (
    SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
),
per_doc AS (
    SELECT sh.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_shingles,
        CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
            AS n_novel
    FROM sh JOIN first_seen f ON sh.shingle = f.shingle
    GROUP BY sh.doc_id
)
SELECT doc_id, n_shingles, n_novel,
    {sql_round6_ratio("n_novel", "n_shingles")} AS novelty
FROM per_doc
"""


@query("dedup_novelty_curve", oracle=_NOVELTY_ORACLE, tags=("dedup", "agg", "provenance"))
def dedup_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    3-word shingles that no earlier document (lower doc_id = earlier
    ingest) contains. The incremental-crawl decision signal: a feed
    whose novelty curve collapses toward 0 is re-crawling known
    content and can be throttled; near-1 means genuinely new text.

    Scale: shingle first-seen is ONE uniform-keyed aggregation
    (min(doc_id) per shingle — map-side combinable), joined back on
    the same shingle key (co-partitioned, no extra exchange shape),
    then a doc_id-keyed report aggregation. No pairwise comparisons
    anywhere — cost is linear in total shingle occurrences, unlike
    any pair-join formulation.
    """
    sh = _doc_shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = sh.join(first_seen, "shingle").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        # exact-integer 6-dp rounding (see functions.round6_ratio)
        round6_ratio("n_novel", "n_shingles").alias("novelty"),
    )


# ---------------------------------------------------------------------------
# MinHash sketch-accuracy audit (round 4)
# ---------------------------------------------------------------------------

_EST_TERMS_SQL = " + ".join(
    f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END" for s in range(N_MINHASH)
)

_MINHASH_ERROR_ORACLE = f"""
WITH {minhash_ctes()},
est AS (
    SELECT c.a_id, c.b_id,
        CAST({_EST_TERMS_SQL} AS BIGINT) AS matches,
        ({_EST_TERMS_SQL}) / 16 AS est_jaccard
    FROM cand c
    JOIN sig sa ON c.a_id = sa.doc_id
    JOIN sig sb ON c.b_id = sb.doc_id
)
SELECT e.a_id, e.b_id, e.est_jaccard, p.jaccard,
    {sql_round6_ratio(
        "abs(e.matches * (sa.n_sh + sb.n_sh - i.n_inter) - 16 * i.n_inter)",
        "16 * (sa.n_sh + sb.n_sh - i.n_inter)",
    )} AS abs_err
FROM est e
JOIN pairs p ON e.a_id = p.a_id AND e.b_id = p.b_id
JOIN inter i ON e.a_id = i.a_id AND e.b_id = i.b_id
JOIN sizes sa ON e.a_id = sa.doc_id
JOIN sizes sb ON e.b_id = sb.doc_id
"""


@query("dedup_minhash_estimate_error", oracle=_MINHASH_ERROR_ORACLE, tags=("dedup", "lsh", "quality"))
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: for every LSH candidate pair, the
    MinHash ESTIMATE of Jaccard (fraction of the 16 signature
    components that agree) next to the EXACT Jaccard, with the
    absolute error. This is the calibration table for choosing
    signature width and band shape — if the estimate's error at the
    dedup threshold is wide, bands misfire and either misses or
    wasted verifications follow. The expectation E[est] = J is the
    Broder (1997) resemblance theorem; this query measures the
    realized deviation at k=16 on live data.

    Float parity: component agreement is integer; est = matches/16 is
    an exact dyadic double; exact Jaccard divides the same integers
    in both engines; abs/sub are exact IEEE, one final 6-dp round.

    Scale: rides the shared shingle cache + ONE signature shuffle
    (exchange-reused across the est and band branches in the same
    DAG); the joins touch candidate pairs only — never all pairs.
    """
    withsh = _doc_shingle_arrays(spark, sf_dir)
    sig = _minhash_signatures(withsh)
    cand, _ = minhash_candidates(spark, sf_dir)
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    matches = sum(
        F.when(F.col(f"sa.mh{s}") == F.col(f"sb.mh{s}"), 1).otherwise(0)
        for s in range(N_MINHASH)
    )
    est = (
        cand.join(sa, F.col("a_id") == F.col("sa.doc_id"))
        .join(sb, F.col("b_id") == F.col("sb.doc_id"))
        .select("a_id", "b_id", matches.alias("matches"))
    )
    szs = withsh.select("doc_id", F.col("sh").alias("arr"))
    a_arr = szs.select(F.col("doc_id").alias("a_id"), F.col("arr").alias("a_sh"))
    b_arr = szs.select(F.col("doc_id").alias("b_id"), F.col("arr").alias("b_sh"))
    exact = (
        est.join(a_arr, "a_id")
        .join(b_arr, "b_id")
        .select(
            "a_id",
            "b_id",
            "matches",
            F.size(F.array_intersect("a_sh", "b_sh")).alias("n_inter"),
            (
                F.size("a_sh")
                + F.size("b_sh")
                - F.size(F.array_intersect("a_sh", "b_sh"))
            ).alias("n_union"),
        )
    )
    # abs_err = |m/16 - inter/union| = |m*union - 16*inter| / (16*union):
    # 6-dp rounded in exact integer arithmetic (functions.round6_ratio);
    # est/jaccard stay the same identically-computed IEEE divisions
    return exact.select(
        "a_id",
        "b_id",
        (F.col("matches") / F.lit(16)).alias("est_jaccard"),
        (F.col("n_inter") / F.col("n_union")).alias("jaccard"),
        round6_ratio(
            "abs(matches * n_union - 16 * n_inter)", "16 * n_union"
        ).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# Bloom prescreen: incremental-ingest "have we seen this?" gate
# ---------------------------------------------------------------------------

_BLOOM_PRESCREEN_ORACLE = """
WITH fp AS (
    SELECT doc_id, md5(substr(text, 1, 128)) AS f FROM documents
),
corpus AS (SELECT f FROM fp WHERE doc_id % 2 = 0),
inc AS (
    SELECT doc_id,
        CASE WHEN f IN (SELECT f FROM corpus) THEN 'seen' ELSE 'novel' END AS status
    FROM fp WHERE doc_id % 2 = 1
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS sample_doc_id
FROM inc
GROUP BY status
"""


@query(
    "dedup_bloom_prescreen",
    oracle=_BLOOM_PRESCREEN_ORACLE,
    tags=("dedup", "scale", "filter", "provenance"),
)
def dedup_bloom_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup gate: an incoming batch (odd doc_ids)
    is screened against the existing corpus (even doc_ids) with a
    Bloom filter over content fingerprints BEFORE any join — the
    crawler's "seen this URL/hash?" screen. Bloom misses are certainly
    novel and skip the join entirely; only Bloom hits (true dups +
    false positives) proceed to the exact fingerprint semi-join, so
    the expensive verify touches ~|dups| + fpr·|incoming| rows instead
    of the whole batch.

    The classification is EXACT — false positives are removed by the
    verify join, false negatives cannot occur — so the oracle is the
    plain IN/NOT IN split, and the Bloom only shapes how much data
    reaches the join (same contract as join_bloom_prefilter). At
    100 TB the corpus side is a fingerprint store; its Bloom is built
    once per ingest cycle (or maintained incrementally: inserting into
    a bit-OR-mergeable filter is itself a bit_or aggregation) and
    broadcast at O(m) regardless of corpus size.

    Fingerprints are the 128-char preview md5 (the multimodal_dedup_
    bytes identity), under which the fixture's planted near-dups
    genuinely collide across the corpus/incoming split.
    """
    from datafusion_streams_spark.operators.runtime_filters import (
        _bloom_build,
        _bloom_probe,
    )

    docs = table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", F.md5(F.substring("text", 1, 128)).alias("f")
    )
    corpus = fp.filter(F.col("doc_id") % 2 == 0).select("f")
    inc = fp.filter(F.col("doc_id") % 2 == 1)

    bloom = _bloom_build(corpus, "f")
    probed = inc.join(F.broadcast(bloom)).withColumn("maybe_seen", _bloom_probe("f"))
    # bloom misses: certainly novel, never joined. bloom hits: exact verify.
    hits = probed.filter(F.col("maybe_seen"))
    verified_seen = hits.join(corpus.distinct(), "f", "left_semi").select("doc_id")
    status = inc.join(
        verified_seen.withColumnRenamed("doc_id", "seen_id"),
        F.col("doc_id") == F.col("seen_id"),
        "left_outer",
    ).select(
        "doc_id",
        F.when(F.col("seen_id").isNotNull(), F.lit("seen"))
        .otherwise(F.lit("novel"))
        .alias("status"),
    )
    return status.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("sample_doc_id"),
    )


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking (round 4)
# ---------------------------------------------------------------------------

SNM_WINDOW = 5
_SNM_KEY_LEN = 30
_SNM_BLOCK_LEN = 10

_SNM_ORACLE = f"""
WITH {_SHINGLES_SQL.strip()},
{_JACCARD_PAIRS_SQL.strip()},
keyed AS (
    SELECT doc_id, lower(substr(text, 1, {_SNM_KEY_LEN})) AS sortkey
    FROM documents
),
ranked AS (
    SELECT doc_id, sortkey, substr(sortkey, 1, {_SNM_BLOCK_LEN}) AS block,
        row_number() OVER (
            PARTITION BY substr(sortkey, 1, {_SNM_BLOCK_LEN})
            ORDER BY sortkey, doc_id
        ) AS rn
    FROM keyed
),
cand AS (
    SELECT DISTINCT
        LEAST(a.doc_id, b.doc_id)    AS a_id,
        GREATEST(a.doc_id, b.doc_id) AS b_id
    FROM ranked a JOIN ranked b
      ON a.block = b.block
     AND b.rn > a.rn AND b.rn <= a.rn + {SNM_WINDOW}
)
SELECT c.a_id, c.b_id, p.jaccard
FROM cand c JOIN pairs p ON c.a_id = p.a_id AND c.b_id = p.b_id
WHERE p.jaccard >= {JACCARD_THRESHOLD}
"""


@query("dedup_sorted_neighborhood", oracle=_SNM_ORACLE, tags=("dedup", "similarity", "window", "join"))
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup blocking (Hernandez–Stolfo SNM):
    sort by a normalized key, slide a fixed window, compare only
    neighbors — the third blocking paradigm in the suite alongside
    LSH banding (`dedup_minhash_lsh`) and prefix filtering
    (`dedup_ngram_jaccard`), the classic choice when duplicates
    cluster under a cheap sort key (titles, URLs, names).

    Blocked formulation for scale: the sort key's {_SNM_BLOCK_LEN}-char
    prefix partitions the corpus, the window slides WITHIN blocks
    (row_number over the block partition — no global single-partition
    window), so the plan is one exchange on block + per-block sorts,
    and candidates are O(n x window). The honest SNM trade-off stands:
    near-dups whose first {_SNM_BLOCK_LEN} chars differ are missed —
    recall lives on the key choice (the fixture's near-dups share
    prefixes by construction; LSH is the key-free alternative).
    Candidates verify by exact shingle Jaccard >= {JACCARD_THRESHOLD}
    through the suite-shared per-doc shingle arrays.
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.lower(F.substring("text", 1, _SNM_KEY_LEN)).alias("sortkey"),
    ).withColumn("block", F.substring("sortkey", 1, _SNM_BLOCK_LEN))
    w = Window.partitionBy("block").orderBy("sortkey", "doc_id")
    ranked = keyed.select("doc_id", "block", F.row_number().over(w).alias("rn"))
    a = ranked.alias("a")
    b = ranked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("b.rn") > F.col("a.rn"))
            & (F.col("b.rn") <= F.col("a.rn") + SNM_WINDOW),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("a_id"),
            F.greatest("a.doc_id", "b.doc_id").alias("b_id"),
        )
        .distinct()
    )
    withsh = _doc_shingle_arrays(spark, sf_dir)
    return _verify_pairs(cand, withsh).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
