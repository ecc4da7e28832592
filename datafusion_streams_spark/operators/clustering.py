"""Embedding clustering — the semantic-dedup / corpus-organization
primitive (k-means over the ``embeddings`` table) and the PQ / IVF-PQ
ANN scans built on the same codebooks.

Distributed Lloyd's iterations, Spark-first: ``_lloyd_step`` is the one
fit. It assigns in an Arrow-batched numpy pass with the (tiny) model in
the task closure and folds each task's EXACT INTEGER per-dimension sums
on the driver, so the model update is bit-identical under any
partitioning or combine order. k-means is one 64-dim codebook, PQ
training eight 8-dim ones. This is the SemDeDup-style clustering step
(Abbas et al. 2023) a training-data pipeline runs before within-cluster
near-dedup.

Float-parity design (the driver value-hashes against DuckDB):

- Embeddings are quantized once to integers ``floor(x*1e6 + 0.5)``.
  Decimal casts of arbitrary floats are NOT portable (Spark rounds,
  DuckDB truncates on scale-down), but floor of identical double math
  is. Integer per-dimension sums make centroid means exactly
  ``sum / (n * 1e6)`` — one double division of two exact numbers,
  identical in both engines.
- Distances accumulate dimension-sequentially (numpy ``acc += d_i`` in
  dim order == DuckDB ``list_reduce`` left fold), never BLAS matmul,
  so squared distances are bit-identical and the argmin (ties broken
  by lowest centroid id) agrees. ``_nearest`` is the one numpy
  spelling of that fold (k-means and PQ fits and assignment, PQ
  encoding, IVF cells) and ``_sq_dist`` the one driver-side scalar
  spelling (ADC lookup table, IVF probe).

Scale: the corpus shuffles ZERO times per iteration — assignment is
map-only against the closure-shipped model, and each task returns at
most (codebooks × k) rows of partial sums. Driver traffic is that
model exchange, never the corpus. The reference has no clustering
operator; capability parity is with its aggregate+groupBy surface
(/root/reference/src/kafka/execution.rs:34 scan feeding arbitrary
DataFusion aggregates).
"""

from __future__ import annotations

import sys as _sys

from pyspark import cloudpickle as _cloudpickle
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_streams_spark.catalog import table
from datafusion_streams_spark.functions import as_double_array
from datafusion_streams_spark.operators import query

# The executor closures call the module-level kernel below, which
# cloudpickle would ship by reference: by-value registration keeps the
# tasks runnable when the driver's cwd is not the repo root (see
# operators/multimodal.py).
_cloudpickle.register_pickle_by_value(_sys.modules[__name__])

EMBED_DIM = 64
K_CLUSTERS = 8
KMEANS_ITERS = 2  # model updates; assignment runs ITERS+1 times
QSCALE = 1_000_000

# SemDeDup sizes k so expected cluster population stays bounded; the
# within-cluster pairwise term is then (TARGET_CLUSTER_SIZE)^2 per task
# regardless of corpus size — the same grow-with-n pattern as
# similarity.lsh_bits_per_band, and like it, k is held at K_CLUSTERS
# for every corpus up to BASE_KMEANS_ROWS (>= the largest shipped
# fixture, sf0.1's 2000 embeddings) so the static DuckDB oracles
# (_kmeans_oracle, _semantic_oracle, pipeline_curation_v2's sem stage)
# hold at all fixture scales; k grows only beyond the base.
TARGET_CLUSTER_SIZE = 64
BASE_KMEANS_ROWS = 5000  # largest fixture corpus (sf0.1 = 2000 vectors)


def kmeans_k(n_rows: int, base_rows: int = BASE_KMEANS_ROWS) -> int:
    if n_rows <= base_rows:
        return K_CLUSTERS
    return max(K_CLUSTERS, n_rows // TARGET_CLUSTER_SIZE)


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_id + integer-quantized embedding (exact-sum domain)."""
    emb = table(spark, sf_dir, "embeddings")
    vq = F.transform(
        as_double_array("embedding"),
        lambda x: F.floor(x * F.lit(float(QSCALE)) + F.lit(0.5)).cast("long"),
    )
    # single-file fixture = one input partition; a real table arrives
    # pre-split, so restore parallelism before the iterative passes
    return emb.select("vec_id", vq.alias("vq")).repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )


def _nearest(x, cents):
    """Each row's nearest-centroid INDEX (rows of ``x`` against rows of
    ``cents``, both float64 arrays): the squared distance accumulates
    dimension by dimension, matching the SQL left fold bit for bit, and
    ``argmin`` returns the first minimum, so ties go to the lowest
    index."""
    import numpy as np

    acc = np.zeros((x.shape[0], cents.shape[0]), dtype=np.float64)
    for d in range(cents.shape[1]):
        diff = x[:, d, None] - cents[None, :, d]
        acc += diff * diff
    return np.argmin(acc, axis=1)


def _sq_dist(a, b) -> float:
    """``_nearest``'s fold for one pair of vectors on the driver."""
    acc = 0.0
    for u, v in zip(a, b):
        diff = u - v
        acc += diff * diff
    return acc


def _book(rows, lo: int, hi: int):
    """A codebook ``(lo, hi, cids, cents)`` over dims ``[lo, hi)``
    seeded from ``rows`` (the lowest vec_ids): code i is row i's slice."""
    cents = [[v / float(QSCALE) for v in r["vq"][lo:hi]] for r in rows]
    return lo, hi, list(range(len(rows))), cents


def _assign(qdf: DataFrame, cids: list[int], centroids: list[list[float]]) -> DataFrame:
    """Nearest-centroid assignment: one Arrow pass, model in closure;
    ``cids`` is ascending, so ``_nearest``'s tie-break is the lowest
    centroid id."""
    cids_local = list(cids)
    cent_local = [list(c) for c in centroids]

    def fn(batches):
        import numpy as np
        import pandas as pd

        cn = np.array(cent_local, dtype=np.float64)
        cid_arr = np.array(cids_local, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf["vq"].tolist(), dtype=np.float64) / float(QSCALE)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster": cid_arr[_nearest(x, cn)],
                    "vq": pdf["vq"],
                }
            )

    return qdf.mapInPandas(fn, "vec_id long, cluster long, vq array<bigint>")


def _lloyd_step(qdf: DataFrame, books: list) -> list:
    """One Lloyd update of every codebook ``(lo, hi, cids, cents)`` in
    ``books`` (each clusters dims ``[lo, hi)``) in ONE map pass: each
    task assigns its rows with ``_nearest`` and emits, per (book, code),
    the row count and the exact int64 dim sums — at most books × k rows
    instead of the corpus. The driver folds them in Python ints and
    divides once, so the new model is the same under any partitioning
    or combine order. Codes no row chose drop out, as in the oracle's
    ``GROUP BY``."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        model = [
            (lo, hi, np.array(cids, dtype=np.int64), np.array(cents, dtype=np.float64))
            for lo, hi, cids, cents in books
        ]
        counts: dict[tuple[int, int], int] = {}
        sums: dict[tuple[int, int], "np.ndarray"] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vq = np.array(pdf["vq"].tolist(), dtype=np.int64)
            x = vq.astype(np.float64) / float(QSCALE)
            for b, (lo, hi, cid_arr, cn) in enumerate(model):
                codes = cid_arr[_nearest(x[:, lo:hi], cn)]
                for c in np.unique(codes):
                    mask = codes == c
                    key = (b, int(c))
                    s = vq[mask, lo:hi].sum(axis=0)  # exact int64 partial sums
                    if key in counts:
                        counts[key] += int(mask.sum())
                        sums[key] += s
                    else:
                        counts[key] = int(mask.sum())
                        sums[key] = s
        if not counts:
            return
        keys = sorted(counts)
        yield pd.DataFrame(
            {
                "book": [k[0] for k in keys],
                "code": [k[1] for k in keys],
                "n": [counts[k] for k in keys],
                "s": [sums[k].tolist() for k in keys],
            }
        )

    rows = qdf.mapInPandas(fn, "book int, code long, n long, s array<bigint>").collect()
    n: dict[tuple[int, int], int] = {}
    s: dict[tuple[int, int], list[int]] = {}
    for r in rows:
        key = (r["book"], r["code"])
        n[key] = n.get(key, 0) + r["n"]
        s[key] = [a + v for a, v in zip(s.get(key, [0] * len(r["s"])), r["s"])]
    fitted = []
    for b, (lo, hi, _, _) in enumerate(books):
        codes = sorted(c for bk, c in n if bk == b)
        cents = [[v / (n[b, c] * float(QSCALE)) for v in s[b, c]] for c in codes]
        fitted.append((lo, hi, codes, cents))
    return fitted


def _dist_sql(vq: str, c: str) -> str:
    term = f"(CAST({vq}[i] AS DOUBLE)/{QSCALE}.0 - {c}[i])"
    return (
        f"list_reduce(list_transform(range(1, {EMBED_DIM + 1}), "
        f"i -> {term} * {term}), (a, b) -> a + b)"
    )


def kmeans_ctes() -> str:
    """The WITH-body replaying the exact k-means fixpoint: quantize,
    init from the k lowest vec_ids, then ITERS assign/update rounds and
    a final assignment ``m3 (vec_id, vq, cid)``. Shared by every oracle
    that consumes the clustering."""
    cent_cols = ", ".join(
        f"CAST(CAST(SUM(vq[{d + 1}]) AS BIGINT) AS DOUBLE) / (COUNT(*) * {QSCALE}.0)"
        for d in range(EMBED_DIM)
    )
    steps = []
    prev_c = "c0"
    for it in (1, 2, 3):
        steps.append(
            f"""x{it} AS (
    SELECT q.vec_id, q.vq, {prev_c}.cid, {_dist_sql('q.vq', f'{prev_c}.c')} AS dist
    FROM q CROSS JOIN {prev_c}
),
m{it} AS (
    SELECT vec_id, vq, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM x{it}
    ) WHERE rn = 1
)"""
        )
        if it < 3:
            steps.append(
                f"c{it} AS (SELECT cid, list_value({cent_cols}) AS c FROM m{it} GROUP BY cid)"
            )
            prev_c = f"c{it}"
    body = ",\n".join(steps)
    return f"""q AS (
    SELECT vec_id,
        list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * {QSCALE}.0 + 0.5) AS BIGINT)) AS vq
    FROM embeddings
),
c0 AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
           list_transform(vq, v -> CAST(v AS DOUBLE)/{QSCALE}.0) AS c
    FROM (SELECT * FROM q ORDER BY vec_id LIMIT {K_CLUSTERS})
),
{body}"""


def _kmeans_oracle() -> str:
    return f"""
WITH {kmeans_ctes()},
sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM m3 GROUP BY cid)
SELECT m3.vec_id, m3.cid AS cluster, sizes.cluster_size
FROM m3 JOIN sizes ON m3.cid = sizes.cid
"""


def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the Lloyd iterations; return ``(vec_id, cluster, vq)`` —
    the Spark mirror of the oracle's ``m3``. k grows with the corpus
    (``kmeans_k``) so per-cluster population stays ~TARGET_CLUSTER_SIZE
    beyond the fixture base; the cached quantized relation is
    unpersisted once the model is fitted (the final assignment
    recomputes one map-only scan instead of pinning executor storage
    for the session)."""
    qdf = _quantized(spark, sf_dir).cache()
    # k's row count from the RAW parquet (metadata-only under aggregate
    # pushdown): counting the quantized relation instead paid its
    # repartition exchange for a number the scan footer already holds
    # (_quantized is row-preserving)
    k = kmeans_k(table(spark, sf_dir, "embeddings").count())
    books = [_book(qdf.orderBy("vec_id").limit(k).collect(), 0, EMBED_DIM)]
    for _ in range(KMEANS_ITERS):
        books = _lloyd_step(qdf, books)
    qdf.unpersist()
    _, _, cids, cents = books[0]
    return _assign(qdf, cids, cents)


@query(
    "cluster_kmeans_embeddings",
    oracle=_kmeans_oracle(),
    tags=("clustering", "kmeans", "iterative", "semantic-dedup"),
)
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k = max(8, n/64), 2 Lloyd updates, deterministic
    lowest-vec_id init) over the embedding corpus; returns each
    vector's final cluster and the cluster population. At the fixture
    base k resolves to 8, which the static oracle replays.

    Iteration = map-only assignment against the broadcast model + one
    exact-integer reduce; the corpus itself never shuffles, so cost per
    round is one scan — the shape that survives 100 TB.
    """
    final = kmeans_assignments(spark, sf_dir).select("vec_id", "cluster")
    sizes = final.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return final.join(F.broadcast(sizes), "cluster").select(
        "vec_id", "cluster", "cluster_size"
    )


# ---------------------------------------------------------------------------
# within-cluster semantic near-dedup (SemDeDup)
# ---------------------------------------------------------------------------

SEMANTIC_THRESHOLD = 0.4


def _semantic_oracle() -> str:
    dot = (
        f"list_reduce(list_transform(range(1, {EMBED_DIM + 1}), "
        f"i -> a.vv[i] * b.vv[i]), (x, y) -> x + y)"
    )
    return f"""
WITH {kmeans_ctes()},
v AS (
    SELECT vec_id, cid,
           list_transform(vq, x -> CAST(x AS DOUBLE)/{QSCALE}.0) AS vv
    FROM m3
),
n AS (
    SELECT vec_id, cid, vv,
           sqrt(list_reduce(list_transform(vv, x -> x * x), (x, y) -> x + y)) AS nrm
    FROM v
)
SELECT a.cid AS cluster, a.vec_id AS a_id, b.vec_id AS b_id,
       {dot} / (a.nrm * b.nrm) AS cos_sim
FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE {dot} / (a.nrm * b.nrm) >= {SEMANTIC_THRESHOLD}
"""


@query(
    "dedup_semantic_clusters",
    oracle=_semantic_oracle(),
    tags=("dedup", "clustering", "semantic-dedup", "similarity"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup proper (Abbas et al. 2023): k-means clusters as the
    blocking structure, exact pairwise cosine INSIDE each cluster only,
    near-dup pairs above the threshold.

    Scale: the quadratic term is per-cluster, and k grows with the
    corpus (``kmeans_k``: n/64 above the fixture base) so each
    applyInPandas task scores a ~64×64 tile however large the corpus —
    numpy with dimension-sequential accumulation, bit-identical to the
    oracle's fold. Complements ``dedup_embedding_cosine`` (sign-LSH
    blocking): clustering recalls neighbors whose random-hyperplane
    signatures disagree.
    """
    assigned = kmeans_assignments(spark, sf_dir)

    def score_cluster(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame(
                {"cluster": [], "a_id": [], "b_id": [], "cos_sim": []}
            )
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        x = np.array(pdf["vq"].tolist(), dtype=np.float64) / float(QSCALE)
        dot = np.zeros((len(ids), len(ids)), dtype=np.float64)
        nsq = np.zeros(len(ids), dtype=np.float64)
        for d in range(x.shape[1]):
            dot += x[:, d][:, None] * x[None, :, d]
            nsq += x[:, d] * x[:, d]
        nrm = np.sqrt(nsq)
        cos = dot / (nrm[:, None] * nrm[None, :])
        li, ri = np.nonzero((ids[:, None] < ids[None, :]) & (cos >= SEMANTIC_THRESHOLD))
        return pd.DataFrame(
            {
                "cluster": np.full(len(li), int(pdf["cluster"].iloc[0]), dtype=np.int64),
                "a_id": ids[li],
                "b_id": ids[ri],
                "cos_sim": cos[li, ri],
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        score_cluster, "cluster long, a_id long, b_id long, cos_sim double"
    )


# ---------------------------------------------------------------------------
# product quantization ANN (PQ codebooks + asymmetric-distance scan)
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_SUBDIM = EMBED_DIM // PQ_M
PQ_K = 16  # codes per subspace
PQ_QUERY_MAX_ID = 10  # query set: vec_id < 10 (tiny by construction)
PQ_TOPK = 5
IVFPQ_COARSE = 8  # coarse cells (deterministic init: lowest vec_ids)
IVFPQ_PROBE = 2  # cells scanned per query (the recall/cost dial)


def _pq_train(qdf: DataFrame, init) -> list:
    """One Lloyd update of the PQ_M subspace codebooks, seeded with the
    PQ_K lowest vec_ids' subvectors (``init``, ordered by vec_id). All
    model state is m×k×subdim floats — driver/closure-sized at any
    corpus scale."""
    seed = [
        _book(init[:PQ_K], lo, lo + PQ_SUBDIM) for lo in range(0, EMBED_DIM, PQ_SUBDIM)
    ]
    return _lloyd_step(qdf, seed)


def _pq_dtab(q_rows, books) -> dict[int, list[list[float]]]:
    """Driver-side exact ADC lookup table: dense per-(query, sub) arrays
    indexed by code (codes < PQ_K), each distance ``_sq_dist``'s
    sequential per-dimension fold."""
    dtab: dict[int, list[list[float]]] = {}
    for r in q_rows:
        per_sub = []
        for lo, hi, cids, cents in books:
            qsv = [v / float(QSCALE) for v in r["vq"][lo:hi]]
            dense = [float("inf")] * PQ_K
            for code, cent in zip(cids, cents):
                dense[code] = _sq_dist(qsv, cent)
            per_sub.append(dense)
        dtab[int(r["vec_id"])] = per_sub
    return dtab


def _adc_scan(
    qdf: DataFrame,
    books,
    dtab: dict[int, list[list[float]]],
    coarse: list[list[float]] | None = None,
    probed: dict[int, frozenset[int]] | None = None,
) -> DataFrame:
    """Fused map-only ADC scan: one mapInPandas pass over the quantized
    corpus encodes each vector against the broadcast PQ model, probes
    the q×m×k closure-broadcast lookup table, and emits each
    partition's top-k per query (exact — top-k is distributive).

    With ``coarse``/``probed`` set, the same pass also assigns each
    vector to its nearest coarse cell (full-dim sequential fold) and
    scores a query only against vectors in that query's probed cells —
    the IVF shortlist fused into the scan, still zero corpus exchange.
    """
    coarse_local = [list(c) for c in coarse] if coarse is not None else None
    probed_local = {q: frozenset(v) for q, v in probed.items()} if probed else None

    def encode_and_scan(batches):
        import numpy as np
        import pandas as pd

        q_ids = sorted(dtab)
        # (q, s, code) -> d as numpy for vectorized row lookup
        dt = {
            q: [np.array(dtab[q][s], dtype=np.float64) for s in range(PQ_M)]
            for q in q_ids
        }
        model = [
            (lo, hi, np.array(cids, dtype=np.int64), np.array(cents, dtype=np.float64))
            for lo, hi, cids, cents in books
        ]
        cn_coarse = (
            np.array(coarse_local, dtype=np.float64) if coarse_local is not None else None
        )
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vq = np.array(pdf["vq"].tolist(), dtype=np.float64) / float(QSCALE)
            vec_ids = pdf["vec_id"].to_numpy()
            # encode: nearest code per subspace
            codes = np.empty((len(pdf), PQ_M), dtype=np.int64)
            for s, (lo, hi, cid_arr, cn) in enumerate(model):
                codes[:, s] = cid_arr[_nearest(vq[:, lo:hi], cn)]
            cells = _nearest(vq, cn_coarse) if cn_coarse is not None else None
            # ADC: left fold over subspaces, then partial top-k per query
            out = {"q_id": [], "vec_id": [], "adc_dist": []}
            for q in q_ids:
                if cells is not None:
                    mask = np.isin(cells, list(probed_local[q]))
                    if not mask.any():
                        continue
                    ids_q = vec_ids[mask]
                    codes_q = codes[mask]
                else:
                    ids_q = vec_ids
                    codes_q = codes
                adc = np.zeros(len(ids_q), dtype=np.float64)
                for s in range(PQ_M):
                    adc = adc + dt[q][s][codes_q[:, s]]
                order = np.lexsort((ids_q, adc))[:PQ_TOPK]
                out["q_id"].extend([q] * len(order))
                out["vec_id"].extend(ids_q[order].tolist())
                out["adc_dist"].extend(adc[order].tolist())
            yield pd.DataFrame(out)

    return qdf.mapInPandas(encode_and_scan, "q_id long, vec_id long, adc_dist double")


def _adc_rank(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= PQ_TOPK)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "adc_dist", "rnk")
    )


def _pq_oracle(with_ivf: bool = False) -> str:
    def dist8(vexpr: str, cexpr: str) -> str:
        term = f"(CAST({vexpr}[i] AS DOUBLE)/{QSCALE}.0 - {cexpr}[i])"
        return (
            f"list_reduce(list_transform(range(1, {PQ_SUBDIM + 1}), "
            f"i -> {term} * {term}), (a, b) -> a + b)"
        )

    def dist_full(vexpr: str, cexpr: str) -> str:
        term = f"(CAST({vexpr}[i] AS DOUBLE)/{QSCALE}.0 - {cexpr}[i])"
        return (
            f"list_reduce(list_transform(range(1, {EMBED_DIM + 1}), "
            f"i -> {term} * {term}), (a, b) -> a + b)"
        )

    cent_cols = ", ".join(
        f"CAST(CAST(SUM(sv[{d + 1}]) AS BIGINT) AS DOUBLE) / (COUNT(*) * {QSCALE}.0)"
        for d in range(PQ_SUBDIM)
    )
    per_sub = []
    for s in range(PQ_M):
        sl = f"list_slice(vq, {s * PQ_SUBDIM + 1}, {s * PQ_SUBDIM + PQ_SUBDIM})"
        per_sub.append(
            f"""sub{s} AS (SELECT vec_id, {sl} AS sv FROM q),
c0_{s} AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
           list_transform(sv, v -> CAST(v AS DOUBLE)/{QSCALE}.0) AS c
    FROM (SELECT * FROM sub{s} ORDER BY vec_id LIMIT {PQ_K})
),
a1_{s} AS (
    SELECT vec_id, sv, code FROM (
        SELECT sub{s}.vec_id, sub{s}.sv, c0_{s}.code,
               {dist8(f'sub{s}.sv', f'c0_{s}.c')} AS dist,
               row_number() OVER (
                   PARTITION BY sub{s}.vec_id
                   ORDER BY {dist8(f'sub{s}.sv', f'c0_{s}.c')}, c0_{s}.code
               ) AS rn
        FROM sub{s} CROSS JOIN c0_{s}
    ) WHERE rn = 1
),
c1_{s} AS (SELECT code, list_value({cent_cols}) AS c FROM a1_{s} GROUP BY code),
m_{s} AS (
    SELECT vec_id, code FROM (
        SELECT sub{s}.vec_id, c1_{s}.code,
               row_number() OVER (
                   PARTITION BY sub{s}.vec_id
                   ORDER BY {dist8(f'sub{s}.sv', f'c1_{s}.c')}, c1_{s}.code
               ) AS rn
        FROM sub{s} CROSS JOIN c1_{s}
    ) WHERE rn = 1
),
dtab_{s} AS (
    SELECT qr.vec_id AS q_id, c1_{s}.code,
           {dist8('qr.sv', f'c1_{s}.c')} AS d
    FROM (SELECT vec_id, sv FROM sub{s} WHERE vec_id < {PQ_QUERY_MAX_ID}) qr
    CROSS JOIN c1_{s}
),
score_{s} AS (
    SELECT dtab_{s}.q_id, m_{s}.vec_id, dtab_{s}.d AS d{s}
    FROM m_{s} JOIN dtab_{s} ON m_{s}.code = dtab_{s}.code
)"""
        )
    joins = "score_0"
    for s in range(1, PQ_M):
        joins += (
            f" JOIN score_{s} ON score_0.q_id = score_{s}.q_id"
            f" AND score_0.vec_id = score_{s}.vec_id"
        )
    adc = "d0"
    for s in range(1, PQ_M):
        adc = f"({adc} + d{s})"
    subs_sql = ",\n".join(per_sub)
    ivf_ctes = ""
    ivf_joins = ""
    if with_ivf:
        ivf_ctes = f""",
coarse AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           list_transform(vq, v -> CAST(v AS DOUBLE)/{QSCALE}.0) AS c
    FROM (SELECT * FROM q ORDER BY vec_id LIMIT {IVFPQ_COARSE})
),
cellmap AS (
    SELECT vec_id, cell FROM (
        SELECT q.vec_id, coarse.cell,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {dist_full('q.vq', 'coarse.c')}, coarse.cell
               ) AS rn
        FROM q CROSS JOIN coarse
    ) WHERE rn = 1
),
probe AS (
    SELECT q_id, cell FROM (
        SELECT qr.vec_id AS q_id, coarse.cell,
               row_number() OVER (
                   PARTITION BY qr.vec_id
                   ORDER BY {dist_full('qr.vq', 'coarse.c')}, coarse.cell
               ) AS rn
        FROM (SELECT vec_id, vq FROM q WHERE vec_id < {PQ_QUERY_MAX_ID}) qr
        CROSS JOIN coarse
    ) WHERE rn <= {IVFPQ_PROBE}
)"""
        ivf_joins = (
            " JOIN cellmap ON cellmap.vec_id = score_0.vec_id"
            " JOIN probe ON probe.q_id = score_0.q_id AND probe.cell = cellmap.cell"
        )
    return f"""
WITH q AS (
    SELECT vec_id,
        list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * {QSCALE}.0 + 0.5) AS BIGINT)) AS vq
    FROM embeddings
),
{subs_sql}{ivf_ctes},
scored AS (
    SELECT score_0.q_id, score_0.vec_id, {adc} AS adc_dist
    FROM {joins}{ivf_joins}
)
SELECT q_id, vec_id AS neighbor_id, adc_dist,
       CAST(rnk AS BIGINT) AS rnk
FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rnk
    FROM scored
) WHERE rnk <= {PQ_TOPK}
"""


@query(
    "ann_pq_adc",
    oracle=_pq_oracle(),
    tags=("similarity", "ann", "pq", "clustering"),
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization ANN (Jégou et al. 2011): per-subspace
    codebooks (k=16 per 8-dim subspace, one Lloyd update, deterministic
    init) compress each vector to 8 codes; queries scan via asymmetric
    distance — a (query, sub, code)→distance table broadcast as a plain
    closure dict, summed subspace-by-subspace — and take top-5 per query.

    Scale: the ADC scan is MAP-ONLY (the round-2 plan shuffled one row
    per (vector, query, subspace) through a join+pivot just to sum 8
    distances — classic ADC never exchanges the corpus). One fused
    mapInPandas pass encodes each vector AND probes the q×m×k lookup
    table, emitting only each partition's top-k per query, so the sole
    remaining corpus-shaped exchange is the final top-k window over
    ~k·q rows per partition. Codebook training traffic stays m×k rows.

    Float parity with the oracle: per-subspace distances are computed
    once per (query, code) on the driver with the oracle's sequential
    dimension fold, and the cross-subspace sum accumulates in subspace
    order (elementwise numpy adds, s=0..m-1) — the same left fold as
    the oracle's nested (((d0+d1)+d2)+...)."""
    qdf = _quantized(spark, sf_dir).cache()
    books = _pq_train(qdf, qdf.orderBy("vec_id").limit(PQ_K).collect())

    # query subvectors (tiny by construction) -> exact ADC lookup table,
    # computed with the same per-dimension fold as the oracle
    q_rows = qdf.filter(F.col("vec_id") < PQ_QUERY_MAX_ID).collect()
    # model fitted + queries extracted: the cache served its purpose;
    # the fused scan below recomputes one map-only pass instead of
    # pinning the quantized corpus in executor storage
    qdf.unpersist()
    return _adc_rank(_adc_scan(qdf, books, _pq_dtab(q_rows, books)))


@query(
    "ann_ivf_pq",
    oracle=_pq_oracle(with_ivf=True),
    tags=("similarity", "ann", "ivf", "pq", "clustering"),
)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composite ANN — the FAISS IVFADC architecture (Jégou et
    al. 2011 §III): a coarse quantizer partitions the corpus into
    inverted cells; each query probes its nprobe nearest cells and
    computes PQ asymmetric distances only inside them. Combines the
    scan-pruning of ``ann_ivf_probe`` with the memory compression of
    ``ann_pq_adc``.

    Execution: the SAME fused map-only pass as ann_pq_adc — cell
    assignment (full-dim fold vs the broadcast coarse table), PQ
    encode, probed-cell masking, ADC, partition-local top-k — so the
    shortlist costs zero extra exchanges. At 100 TB the corpus would be
    written bucketed by cell, turning the mask into partition pruning
    (only nprobe/n_cells of the data is ever read).

    Float parity: coarse distances use the oracle's sequential
    dimension fold on both the driver (probe selection) and executors
    (cell assignment); ADC inherits ann_pq_adc's left-fold discipline.
    """
    qdf = _quantized(spark, sf_dir).cache()
    # one init read serves both fits: vec_id is unique, so the first
    # IVFPQ_COARSE of the lowest max(PQ_K, IVFPQ_COARSE) rows are the
    # oracle's ORDER BY vec_id LIMIT IVFPQ_COARSE
    init = qdf.orderBy("vec_id").limit(max(PQ_K, IVFPQ_COARSE)).collect()
    books = _pq_train(qdf, init)
    _, _, _, coarse = _book(init[:IVFPQ_COARSE], 0, EMBED_DIM)
    q_rows = qdf.filter(F.col("vec_id") < PQ_QUERY_MAX_ID).collect()
    qdf.unpersist()
    # probe selection on the driver: queries are tiny; ties in distance
    # go to the lower cell id, as in the oracle's ORDER BY dist, cell
    probed: dict[int, frozenset[int]] = {}
    for r in q_rows:
        qv = [v / float(QSCALE) for v in r["vq"]]
        dists = sorted((_sq_dist(qv, c), cell) for cell, c in enumerate(coarse))
        probed[int(r["vec_id"])] = frozenset(cell for _, cell in dists[:IVFPQ_PROBE])
    dtab = _pq_dtab(q_rows, books)
    return _adc_rank(_adc_scan(qdf, books, dtab, coarse=coarse, probed=probed))
