"""Similarity search over embeddings: brute-force cosine top-k (the
exact baseline), random-hyperplane LSH (the bucketed scale path), and an
IVF-style coarse-quantizer probe.

Probe selection is deterministic (the embedding with the minimum vec_id)
so every variant — and the oracle — scores against the same vector.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_graft.functions import cosine, dot, tokens
from spark_graft.operators.clustering import (
    KMEANS_CTES,
    Q_SCALE,
    Q_SHIFT,
    _QV,
    assignment_udf,
    kmeans_assign,
    lloyd_centroids,
    quantize_vec,
)
from spark_graft.registry import query
from spark_graft.sources import table

TOP_K = 10
N_PLANES = 8

# Zero-norm vectors (all elements 0 — the routine corruption shape in a
# 100 TB embedding corpus) have NO defined cosine: under ANSI SQL the
# norm division raises DIVIDE_BY_ZERO (one corrupt row kills the job)
# and in numpy it yields NaN (nondeterministic vs the oracle's float
# semantics). The similarity family therefore EXCLUDES them — probe
# selection and corpus scoring alike — with the identical element-exact
# predicate in both engines (x != 0 on raw floats; no summation, no
# tolerance). The dedup family keeps them: its thresholded contracts
# (cos >= t) drop NaN pairs identically in both engines, and its
# integer-d2 stages (kmeans, coreset) are defined for the zero vector.
NONZERO_SQL = "len(list_filter(embedding, x -> x <> 0)) > 0"


def nonzero_vec(col) -> "F.Column":
    """True iff the vector has any nonzero element (norm > 0, exactly)."""
    return F.exists(col, lambda x: x != F.lit(0.0))


def _probe_vector(spark: SparkSession, sf_dir: str) -> list[float] | None:
    """The query vector: embedding of the minimum vec_id WITH nonzero
    norm (a zero-norm probe has no defined cosine against anything). One
    tiny driver-side lookup (TakeOrderedAndProject of a single row) —
    the rest of the search ships the probe to executors as a literal,
    never the other way around. None when no such vector exists; callers
    return their typed empty result."""
    rows = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(nonzero_vec(F.col("embedding")))
        .orderBy("vec_id")
        .limit(1)
        .collect()
    )
    if not rows:
        return None
    return [float(x) for x in rows[0]["embedding"]]


def _empty_topk(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "vec_id bigint, cos_sim double")


def _lit_vec(vec: list[float]):
    return F.array(*[F.lit(x) for x in vec])


@query(
    "sim_cosine_topk",
    oracle=f"""
        WITH probe AS (
            SELECT CAST(embedding AS DOUBLE[]) AS pv
            FROM embeddings WHERE {NONZERO_SQL} ORDER BY vec_id LIMIT 1
        )
        SELECT e.vec_id,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 4) AS cos_sim
        FROM embeddings e CROSS JOIN probe p
        WHERE {NONZERO_SQL}
        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) DESC, e.vec_id
        LIMIT {TOP_K}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k — the exact-ANN baseline. The probe is a
    broadcast literal; scoring is a narrow map over the table and the
    top-k is TakeOrderedAndProject (per-partition heaps, single merge) —
    no global sort, no shuffle of vectors. Scales linearly to any corpus
    size; this is also the recall=1.0 yardstick for the ANN variants."""
    probe_vec = _probe_vector(spark, sf_dir)
    if probe_vec is None:
        return _empty_topk(spark)
    probe = _lit_vec(probe_vec)
    e = table(spark, sf_dir, "embeddings").filter(nonzero_vec(F.col("embedding")))
    cos = cosine(F.col("embedding"), probe)
    return (
        e.select("vec_id", F.round(cos, 4).alias("cos_sim"), cos.alias("_c"))
        .orderBy(F.col("_c").desc(), "vec_id")
        .limit(TOP_K)
        .drop("_c")
    )


def _planes(dim: int) -> list[list[float]]:
    """Fixed public hash family: plane[p][d] derived from md5(p:d),
    mapped to [-1, 1). Deterministic across runs/engines — no RNG."""
    return [
        [
            int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16) / 2**32 * 2 - 1
            for d in range(dim)
        ]
        for p in range(N_PLANES)
    ]


def lsh_bucket_col(vec_col, planes: list[list[float]]):
    """Sign-bit bucket id: bit p = (v . plane_p >= 0). A narrow,
    codegen'd expression — bucketing 100 TB of vectors is a map-only
    stage."""
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        bucket = bucket + F.when(dot(vec_col, _lit_vec(plane)) >= 0, F.lit(2**p)).otherwise(
            F.lit(0)
        )
    return bucket


EMB_DIM = 64  # fixture embeddings dimension (embeddings.parquet, FIXTURES.md)
N_PROBES = 3


def _lsh_oracle_sql() -> str:
    """DuckDB twin of sim_ann_lsh, end to end: the md5-derived plane
    family is PUBLIC deterministic arithmetic, so its float64 values are
    inlined as SQL literals (repr() round-trips doubles exactly), and
    probe margins, sign-bit bucketing, multi-probe flip selection, and
    the cosine rescore are all re-derived inside SQL. Dot products on
    both engines accumulate doubles in array order (Spark's zip_with
    fold / DuckDB's list_dot_product), so buckets — and therefore the
    candidate set — match bit-for-bit."""
    planes_rows = ",\n            ".join(
        f"({p}, [{', '.join(repr(x) for x in plane)}]::DOUBLE[])"
        for p, plane in enumerate(_planes(EMB_DIM))
    )
    return f"""
        WITH probe AS (
            SELECT CAST(embedding AS DOUBLE[]) AS pv
            FROM embeddings WHERE {NONZERO_SQL} ORDER BY vec_id LIMIT 1
        ),
        planes(p, pl) AS (VALUES
            {planes_rows}
        ),
        margins AS (
            SELECT pl.p, list_dot_product(pr.pv, pl.pl) AS m
            FROM planes pl CROSS JOIN probe pr
        ),
        pbucket AS (
            SELECT CAST(sum(CASE WHEN m >= 0 THEN 1::BIGINT << p ELSE 0 END)
                        AS BIGINT) AS b
            FROM margins
        ),
        flips AS (SELECT p FROM margins ORDER BY abs(m), p LIMIT {N_PROBES}),
        probed AS (
            SELECT b AS bucket FROM pbucket
            UNION ALL
            SELECT xor(pb.b, 1::BIGINT << f.p) FROM pbucket pb CROSS JOIN flips f
        ),
        vdots AS (
            SELECT e.vec_id, pl.p,
                   list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.pl) AS d
            FROM embeddings e CROSS JOIN planes pl
            WHERE {NONZERO_SQL}
        ),
        vbuckets AS (
            SELECT vec_id,
                   CAST(sum(CASE WHEN d >= 0 THEN 1::BIGINT << p ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM vdots GROUP BY vec_id
        ),
        cand AS (
            SELECT vec_id FROM vbuckets
            WHERE bucket IN (SELECT bucket FROM probed)
        )
        SELECT e.vec_id,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 4)
                   AS cos_sim
        FROM embeddings e
        JOIN cand c ON c.vec_id = e.vec_id
        CROSS JOIN probe p
        WHERE {NONZERO_SQL}
        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) DESC,
                 e.vec_id
        LIMIT {TOP_K}
    """


@query("sim_ann_lsh", oracle=_lsh_oracle_sql())
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH with MULTI-PROBE: bucket every
    vector by 8 sign bits (buckets ~ corpus/256), then search the
    probe's bucket PLUS the buckets whose sign bit flips on the probe's
    lowest-margin hyperplanes — near neighbors that straddle a plane the
    probe sits close to land exactly there, so probing those first buys
    most of the recall of widening the search at a fraction of the scan
    (Lv et al., VLDB'07). Candidate scan stays
    O((1+n_probes) * corpus/2^bits); exact cosine rescore on candidates.
    At 100 TB: bucket once, write partitioned by bucket id, and each
    query touches 1+n_probes partitions.

    Regime note (measured on the fixtures): sign-LSH recall depends on
    the neighbors actually being CLOSE — per-bit agreement is 1-theta/pi,
    so at the fixture probe's best cosine of ~0.4 (theta ~66 deg) an
    8-bit bucket retains ~2% of true neighbors no matter the probing.
    LSH is the scale path for the HIGH-similarity regime (near-dup,
    cos >= ~0.8, bit agreement ~0.9+); for diffuse top-k like this
    fixture, IVF (sim_ann_ivf) or brute force (sim_cosine_topk) is the
    correct tool. The md5 plane family is public arithmetic, so the
    WHOLE pipeline — margins, bucketing, flip selection, rescore — is
    hash-matched against `_lsh_oracle_sql` with the planes inlined as
    float64 literals."""
    probe = _probe_vector(spark, sf_dir)
    if probe is None:
        return _empty_topk(spark)
    planes = _planes(len(probe))
    # python-side bucket of the probe (same arithmetic as the column
    # expr), keeping each hyperplane margin for probe ordering
    margins = [sum(a * b for a, b in zip(probe, plane)) for plane in planes]
    probe_bucket = sum(2**p for p, m in enumerate(margins) if m >= 0)
    flip_order = sorted(range(len(planes)), key=lambda p: abs(margins[p]))
    buckets = [probe_bucket] + [probe_bucket ^ (1 << p) for p in flip_order[:N_PROBES]]
    e = table(spark, sf_dir, "embeddings").filter(nonzero_vec(F.col("embedding")))
    bucketed = e.withColumn("bucket", lsh_bucket_col(F.col("embedding"), planes))
    cand = bucketed.filter(F.col("bucket").isin(buckets))
    cos = cosine(F.col("embedding"), _lit_vec(probe))
    return (
        cand.select("vec_id", F.round(cos, 4).alias("cos_sim"), cos.alias("_c"))
        .orderBy(F.col("_c").desc(), "vec_id")
        .limit(TOP_K)
        .drop("_c")
    )


N_PROBE_CLUSTERS = 3


@query(
    "sim_ann_ivf",
    oracle=f"""
        WITH probe AS (
            SELECT CAST(embedding AS DOUBLE[]) AS pv
            FROM embeddings WHERE {NONZERO_SQL} ORDER BY vec_id LIMIT 1
        ),
        pn AS (SELECT sqrt(list_dot_product(pv, pv)) AS n FROM probe),
        ev AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE {NONZERO_SQL}),
        cent AS (
            SELECT label, gs.d AS pos, avg(v[gs.d]) AS cv
            FROM ev CROSS JOIN generate_series(1, {EMB_DIM}) gs(d)
            GROUP BY label, gs.d
        ),
        sel AS (
            SELECT c.label,
                   sum(c.cv * p.pv[c.pos]) AS dotc,
                   sqrt(sum(c.cv * c.cv)) AS cn
            FROM cent c CROSS JOIN probe p
            GROUP BY c.label
        ),
        pc AS (
            SELECT s.label FROM sel s CROSS JOIN pn
            ORDER BY s.dotc / (s.cn * pn.n) DESC, s.label
            LIMIT {N_PROBE_CLUSTERS}
        )
        SELECT e.vec_id,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 4)
                   AS cos_sim
        FROM embeddings e CROSS JOIN probe p
        WHERE e.label IN (SELECT label FROM pc) AND {NONZERO_SQL}
        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) DESC,
                 e.vec_id
        LIMIT {TOP_K}
    """,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: `label` is the coarse quantizer's cluster id;
    centroids = per-cluster mean vectors (one tiny aggregation), probe
    the nprobe nearest clusters, exact-rescore inside them. The inverted
    list = partition-by-cluster layout; at scale each query reads only
    nprobe partitions. Centroid table is centroids(n_clusters) rows —
    always broadcastable.

    Cluster SELECTION compares float centroid cosines — robust to
    engine-level summation-order noise (~1e-15) unless two clusters tie
    to that precision, which the fixture's well-separated labels never
    do — and the rescore inside the selected clusters is the same
    bit-deterministic arithmetic as sim_cosine_topk, so the whole query
    hash-matches its oracle."""
    e = table(spark, sf_dir, "embeddings").filter(nonzero_vec(F.col("embedding")))
    # centroids via posexplode -> avg per (label, dim) -> rebuild vectors
    cent_rows = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("v"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select("label", F.transform("pv", lambda s: s["v"]).alias("centroid"))
        .collect()
    )
    probe = _probe_vector(spark, sf_dir)
    if probe is None:
        return _empty_topk(spark)

    def py_cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return d / (na * nb) if na and nb else 0.0

    nearest = sorted(
        cent_rows, key=lambda r: (-py_cos(probe, list(r["centroid"])), r["label"])
    )[:N_PROBE_CLUSTERS]
    probe_labels = [r["label"] for r in nearest]
    cos = cosine(F.col("embedding"), _lit_vec(probe))
    return (
        e.filter(F.col("label").isin(probe_labels))
        .select("vec_id", F.round(cos, 4).alias("cos_sim"), cos.alias("_c"))
        .orderBy(F.col("_c").desc(), "vec_id")
        .limit(TOP_K)
        .drop("_c")
    )


# Probe-cluster selection over the TRAINED quantizer, shared verbatim
# by sim_ann_ivf_trained and pipeline_embed_index — the hash-gated
# tie-breaks (ORDER BY d2p, cluster; integer squared distance over the
# quantized probe) live HERE once, in both the SQL and python forms,
# so a future tie-break/rounding fix cannot silently diverge one
# consumer from the other (code-review r13). sim_ann_pq's probe block
# is NOT this one: it selects per-subspace (m) codebook cells.
PROBE_SELECT_CTES = f"""probeq AS (
            SELECT pos, qv FROM q
            WHERE vec_id = (SELECT min(vec_id) FROM embeddings WHERE {NONZERO_SQL})
        ),
        cdist AS (
            SELECT c.cluster,
                   CAST(sum((p.qv - c.qc) * (p.qv - c.qc)) AS BIGINT) AS d2p
            FROM probeq p JOIN c1 c USING (pos) GROUP BY c.cluster
        ),
        pc AS (SELECT cluster FROM cdist ORDER BY d2p, cluster LIMIT {N_PROBE_CLUSTERS})"""


def _nearest_trained_clusters(
    cents: dict[int, list[int]], probe: list[float]
) -> list[int]:
    """HALF_UP-quantized probe (matching F.round / DuckDB round on the
    non-negative shifted values; python round() is HALF_EVEN) -> the
    {N_PROBE_CLUSTERS} nearest trained centroids by integer squared
    distance, ties on cluster id — the driver-side twin of
    PROBE_SELECT_CTES."""
    qp = quantize_vec(probe)
    nearest = sorted(
        (sum((a - b) ** 2 for a, b in zip(qp, cv)), cid)
        for cid, cv in sorted(cents.items())
    )[:N_PROBE_CLUSTERS]
    return [cid for _, cid in nearest]


@query(
    "sim_ann_ivf_trained",
    oracle=f"""
        WITH {KMEANS_CTES},
        {PROBE_SELECT_CTES},
        members AS (SELECT vec_id, cluster FROM a2 WHERE rk = 1),
        probe AS (
            SELECT CAST(embedding AS DOUBLE[]) AS pv
            FROM embeddings WHERE {NONZERO_SQL} ORDER BY vec_id LIMIT 1
        )
        SELECT e.vec_id,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 4)
                   AS cos_sim
        FROM embeddings e
        JOIN members m ON m.vec_id = e.vec_id
        CROSS JOIN probe p
        WHERE m.cluster IN (SELECT cluster FROM pc) AND {NONZERO_SQL}
        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) DESC,
                 e.vec_id
        LIMIT {TOP_K}
    """,
)
def sim_ann_ivf_trained(
    spark: SparkSession, sf_dir: str, centroids_path: str | None = None
) -> DataFrame:
    """IVF ANN served from a TRAINED coarse quantizer — the composed
    train->index->query pipeline: `lloyd_centroids` (the kmeans_lloyd
    loop) produces the integer centroid matrix, every vector is
    assigned to its nearest trained centroid with the same fixed-point
    argmin, the probe picks its N_PROBE_CLUSTERS nearest centroids by
    integer distance (a driver-side loop over kxdim ints), and the
    exact cosine rescore runs only inside the probed clusters.

    Because training, assignment, and probe selection are all integer
    arithmetic with fixed tie-breaks, the ENTIRE pipeline is
    hash-matched against a single DuckDB query (kmeans CTEs + probe
    CTEs + rescore) — an end-to-end determinism guarantee most ANN
    stacks cannot make. Serving shape: centroids are plan literals,
    assignment+filter is narrow, rescore is TakeOrderedAndProject; at
    100 TB the assignment is precomputed once as the partition layout
    and a query touches only nprobe partitions.

    `centroids_path` serves a persisted `spark_graft.artifacts`
    kmeans_centroids artifact instead of training (VERDICT r10 item 3):
    the serve job then issues ZERO training rounds — only the probe
    lookup and the rescore scan run."""

    if centroids_path is not None:
        from spark_graft import artifacts

        cents = artifacts.load_kmeans_centroids(centroids_path, sf_dir=sf_dir)
    else:
        cents = lloyd_centroids(spark, sf_dir)
    probe = _probe_vector(spark, sf_dir)
    if probe is None:
        return _empty_topk(spark)
    probe_clusters = _nearest_trained_clusters(cents, probe)

    e = table(spark, sf_dir, "embeddings").filter(nonzero_vec(F.col("embedding")))
    assigned = e.select(
        "vec_id",
        "embedding",
        assignment_udf(cents, spark)("embedding")["cluster"].alias("cluster"),
    )
    cos = cosine(F.col("embedding"), _lit_vec(probe))
    return (
        assigned.filter(F.col("cluster").isin(probe_clusters))
        .select("vec_id", F.round(cos, 4).alias("cos_sim"), cos.alias("_c"))
        .orderBy(F.col("_c").desc(), "vec_id")
        .limit(TOP_K)
        .drop("_c")
    )


K_NN = 3  # neighbors per vector in the kNN graph


def _knn_oracle() -> str:
    from spark_graft.operators.dedup import _EMB_K_SQL
    from spark_graft.operators.clustering import kmeans_ctes

    return f"""
        WITH {kmeans_ctes(_EMB_K_SQL)},
        asn AS (SELECT vec_id, cluster AS cell FROM a2 WHERE rk = 1),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE {NONZERO_SQL}),
        cand AS (
            SELECT sa.vec_id AS vec_id, sb.vec_id AS nbr_id,
                   list_cosine_similarity(a.v, b.v) AS c
            FROM asn sa JOIN asn sb ON sa.cell = sb.cell
                                   AND sa.vec_id <> sb.vec_id
            JOIN e a ON a.vec_id = sa.vec_id
            JOIN e b ON b.vec_id = sb.vec_id
        ),
        rk AS (
            SELECT vec_id, nbr_id, c,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY c DESC, nbr_id) AS rnk
            FROM cand
        )
        SELECT vec_id, nbr_id, CAST(rnk AS BIGINT) AS rnk,
               round(c, 4) AS cos_sim
        FROM rk WHERE rnk <= {K_NN}
    """


@query("sim_knn_graph", oracle=_knn_oracle())
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-vectors kNN graph: each vector's top-{K_NN} cosine neighbors
    WITHIN its trained quantizer cell — the linear-output counterpart to
    `dedup_embedding`'s thresholded pairs (VERDICT r7 item 1 option (b)
    semantics, delivered alongside option (a)). A kNN graph is the
    workhorse input of embedding-space curation at scale: graph-based
    clustering, semantic dedup sweeps, coverage/diversity sampling.

    Scale shape: identical to `dedup_embedding` — `emb_cell_chunks`
    trains k = max(8, ceil(n/256)) cells and grids oversized cells, so
    candidate pairs are O(n * 256) and the OUTPUT is exactly <=
    {K_NN} * n rows. Each chunk-pair task emits only its per-vector
    top-{K_NN} partials (a task covers all of a vector's pairs against
    one chunk, so its global top-{K_NN} is contained in the union of its
    per-task top-{K_NN}s — at most {K_NN} * n_chunks small rows per
    vector reach the shuffle, never the full candidate set), and one
    row_number window per vec_id finishes the merge. Ties break to the
    lowest neighbor id in both engines; cosines are float64 cumsum in
    array order (bit-identical to DuckDB's list_cosine_similarity), so
    the whole train->assign->pair->rank pipeline hash-matches."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    from spark_graft.operators.dedup import (
        EMB_PAIR_SLICE,
        _block_pair_arrays,
        emb_cell_chunks,
    )

    _EMPTY = pd.DataFrame(
        {"vec_id": pd.Series(dtype="int64"), "nbr_id": pd.Series(dtype="int64"),
         "c": pd.Series(dtype="float64")}
    )

    def block_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        arrs = _block_pair_arrays(pdf, np)
        if arrs is None:
            return _EMPTY
        ma, mb, ids_a, ids_b, ia, ib, nrm_a, nrm_b = arrs
        outs = []
        for s in range(0, len(ia), EMB_PAIR_SLICE):
            sa, sb = ia[s : s + EMB_PAIR_SLICE], ib[s : s + EMB_PAIR_SLICE]
            dots = np.cumsum(ma[sa] * mb[sb], axis=1)[:, -1]
            # clamp to [-1, 1] like DuckDB's list_cosine_similarity:
            # rounding can push parallel vectors past 1, which would
            # out-rank a mathematically-tied exact 1.0
            cos = np.clip(dots / (nrm_a[sa] * nrm_b[sb]), -1.0, 1.0)
            # both directions: a pair informs BOTH endpoints' neighbor lists
            outs.append(pd.DataFrame({"vec_id": ids_a[sa], "nbr_id": ids_b[sb], "c": cos}))
            outs.append(pd.DataFrame({"vec_id": ids_b[sb], "nbr_id": ids_a[sa], "c": cos}))
        if not outs:
            return _EMPTY
        both = pd.concat(outs, ignore_index=True)
        # per-task partial top-k: bounds shuffle rows at K_NN per vector
        # per chunk-pair task instead of the full candidate fan
        return (
            both.sort_values(["vec_id", "c", "nbr_id"],
                             ascending=[True, False, True])
            .groupby("vec_id", sort=False)
            .head(K_NN)
            .reset_index(drop=True)
        )

    cand = emb_cell_chunks(spark, sf_dir, nonzero_only=True).groupBy("cell", "pi", "pj").applyInPandas(
        block_knn, "vec_id bigint, nbr_id bigint, c double"
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("c").desc(), F.col("nbr_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= K_NN)
        .select(
            "vec_id", "nbr_id", F.col("rnk").cast("long").alias("rnk"),
            F.round("c", 4).alias("cos_sim"),
        )
    )


def _hardneg_oracle() -> str:
    from spark_graft.operators.clustering import kmeans_ctes
    from spark_graft.operators.dedup import _EMB_K_SQL

    return f"""
        WITH {kmeans_ctes(_EMB_K_SQL)},
        asn AS (SELECT vec_id, cluster AS cell FROM a2 WHERE rk = 1),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
              WHERE {NONZERO_SQL}),
        cand AS (
            SELECT a.vec_id AS vec_id, a.label AS label,
                   b.vec_id AS neg_id, b.label AS neg_label,
                   list_cosine_similarity(a.v, b.v) AS c
            FROM asn sa JOIN asn sb ON sa.cell = sb.cell
                                   AND sa.vec_id <> sb.vec_id
            JOIN e a ON a.vec_id = sa.vec_id
            JOIN e b ON b.vec_id = sb.vec_id
            WHERE a.label <> b.label
        ),
        rk AS (
            SELECT vec_id, label, neg_id, neg_label, c,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY c DESC, neg_id) AS rnk
            FROM cand
        )
        SELECT vec_id, label, neg_id, neg_label, round(c, 4) AS cos_sim
        FROM rk WHERE rnk = 1
    """


@query("sim_hardneg", oracle=_hardneg_oracle())
def sim_hardneg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for every vector,
    the single most-similar vector carrying a DIFFERENT label within its
    trained quantizer cell (ties to the lowest neg_id). The canonical
    metric-learning data-prep step (semi-hard/hard negative selection,
    Schroff et al., FaceNet, CVPR 2015) — easy negatives teach nothing,
    and the hardest ones live exactly where ANN blocking already looks:
    among near neighbors.

    Scale shape: identical to `sim_knn_graph` — `emb_cell_chunks`
    (extra_cols threads `label` into the task frames) keeps candidate
    work O(n * 256) via trained cells + the md5 chunk grid; each task
    filters to cross-label pairs BEFORE the pair math (the mask prunes
    the slice, so same-label majority cells cost no dot products) and
    emits only its per-vector top-1, so the shuffle carries at most
    n_chunks rows per vector; one row_number window finishes the merge.
    Vectors whose cell holds no other label are absent from the output —
    the honest ANN contract (a wider-probe variant would union
    neighboring cells), matching the oracle's inner-join semantics.
    Corollary (observed on the sf1 fixture, hash-matched both engines):
    when the corpus is strongly label-separable the trained cells go
    label-PURE and the result is EMPTY — hard negatives live at decision
    boundaries, so an empty result is the quantizer reporting that no
    in-cell boundary exists, not a bug. The sf0.01 fixture (k=8 coarse
    cells over 10 labels) exercises the populated regime.
    float64 cumsum in array order keeps the cosine bit-identical to
    DuckDB's list_cosine_similarity, so train->assign->mine
    hash-matches."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    from spark_graft.operators.dedup import (
        EMB_PAIR_SLICE,
        _block_pair_arrays,
        emb_cell_chunks,
    )

    _EMPTY = pd.DataFrame(
        {
            "vec_id": pd.Series(dtype="int64"),
            "label": pd.Series(dtype="int32"),
            "neg_id": pd.Series(dtype="int64"),
            "neg_label": pd.Series(dtype="int32"),
            "c": pd.Series(dtype="float64"),
        }
    )

    def block_hardneg(pdf: pd.DataFrame) -> pd.DataFrame:
        arrs = _block_pair_arrays(pdf, np)
        if arrs is None:
            return _EMPTY
        ma, mb, ids_a, ids_b, ia, ib, nrm_a, nrm_b = arrs
        labmap = pdf.drop_duplicates("vec_id").set_index("vec_id")["label"]
        la = labmap.loc[ids_a].to_numpy()
        lb = labmap.loc[ids_b].to_numpy()
        outs = []
        for s in range(0, len(ia), EMB_PAIR_SLICE):
            sa, sb = ia[s : s + EMB_PAIR_SLICE], ib[s : s + EMB_PAIR_SLICE]
            keep = la[sa] != lb[sb]  # cross-label only, before any math
            if not keep.any():
                continue
            sa, sb = sa[keep], sb[keep]
            dots = np.cumsum(ma[sa] * mb[sb], axis=1)[:, -1]
            # clamp to [-1, 1] like DuckDB's list_cosine_similarity:
            # rounding can push parallel vectors past 1, which would
            # out-rank a mathematically-tied exact 1.0
            cos = np.clip(dots / (nrm_a[sa] * nrm_b[sb]), -1.0, 1.0)
            outs.append(pd.DataFrame({
                "vec_id": ids_a[sa], "label": la[sa],
                "neg_id": ids_b[sb], "neg_label": lb[sb], "c": cos,
            }))
            outs.append(pd.DataFrame({
                "vec_id": ids_b[sb], "label": lb[sb],
                "neg_id": ids_a[sa], "neg_label": la[sa], "c": cos,
            }))
        if not outs:
            return _EMPTY
        both = pd.concat(outs, ignore_index=True)
        # per-task partial top-1, same tie order as the final window
        return (
            both.sort_values(["vec_id", "c", "neg_id"],
                             ascending=[True, False, True])
            .groupby("vec_id", sort=False)
            .head(1)
            .reset_index(drop=True)
        )

    cand = (
        emb_cell_chunks(spark, sf_dir, extra_cols=("label",), nonzero_only=True)
        .groupBy("cell", "pi", "pj")
        .applyInPandas(
            block_hardneg,
            "vec_id bigint, label int, neg_id bigint, neg_label int, c double",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("c").desc(), F.col("neg_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "vec_id", "label", "neg_id", "neg_label",
            F.round("c", 4).alias("cos_sim"),
        )
    )


def _coreset_oracle() -> str:
    from spark_graft.operators.clustering import kmeans_ctes
    from spark_graft.operators.dedup import _EMB_K_SQL

    return f"""
        WITH {kmeans_ctes(_EMB_K_SQL)},
        asn AS (SELECT vec_id, cluster AS cell, d2 FROM a2 WHERE rk = 1),
        sizes AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members
                  FROM asn GROUP BY cell),
        rep AS (
            SELECT cell, vec_id, d2,
                   row_number() OVER (PARTITION BY cell
                                      ORDER BY d2, vec_id) AS rrk
            FROM asn
        )
        SELECT r.cell, r.vec_id AS rep_id, r.d2, s.n_members
        FROM rep r JOIN sizes s USING (cell)
        WHERE r.rrk = 1
    """


@query("sample_coreset", oracle=_coreset_oracle())
def sample_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreset / representative selection: train the same grow-with-n
    quantizer as the blocked embedding family (k = max(8, ceil(n/256))
    cells) and keep, per cell, the single vector CLOSEST to its centroid
    (integer squared distance, ties to the lowest vec_id) plus the cell
    population. The k-center-style dataset summary (greedy k-center /
    coreset selection as in Sener & Savarese, ICLR 2018, with the
    trained quantizer standing in for the greedy cover): k grows
    linearly with the corpus, so the output is a faithful ~n/256-point
    sketch of the embedding distribution — the standard first step of
    dataset distillation, diversity-aware subsampling, and "show me
    what's in this shard" exploration at scales where plotting n points
    is impossible.

    Plan shape: one Arrow-batched assignment pass (the same
    broadcast/hierarchical argmin kernel as kmeans_lloyd — O(1) task
    closure at any k), a tiny (cell, count) aggregate, and a per-cell
    top-1 that Spark executes as WindowGroupLimit (each task keeps one
    candidate per cell before the shuffle, so the exchange carries at
    most n_tasks rows per cell, never the membership). Everything
    downstream of assignment is k-bounded, not n-bounded. The d2 it
    ranks on is the assignment's own fixed-point integer, so the whole
    train->assign->select pipeline hash-matches the oracle's relational
    re-derivation bit-for-bit."""
    from pyspark.sql.window import Window

    from spark_graft.operators.clustering import assignment_udf, lloyd_centroids
    from spark_graft.operators.dedup import _emb_k

    emb = table(spark, sf_dir, "embeddings")
    n_vecs, dim = emb.agg(F.count(F.lit(1)), F.min(F.size("embedding"))).first()
    if n_vecs == 0:
        return spark.createDataFrame(
            [], "cell bigint, rep_id bigint, d2 bigint, n_members bigint"
        )
    cents = lloyd_centroids(spark, sf_dir, k=_emb_k(int(n_vecs)), dim=int(dim))
    a = assignment_udf(cents, spark)("embedding")
    asn = emb.select(
        "vec_id", a["cluster"].alias("cell"), a["d2"].alias("d2")
    )
    sizes = asn.groupBy("cell").agg(F.count(F.lit(1)).alias("n_members"))
    w = Window.partitionBy("cell").orderBy("d2", "vec_id")
    return (
        asn.withColumn("rrk", F.row_number().over(w))
        .filter(F.col("rrk") == 1)
        .join(sizes, "cell")
        .select("cell", F.col("vec_id").alias("rep_id"), "d2", "n_members")
    )


# ------------------------------------------------------------- rank_fusion

RRF_K = 60  # the standard reciprocal-rank-fusion dampening constant
RRF_SCALE = 1000000  # fixed-point scale for 1/(k + rank)
RRF_LEG_TOP = 50  # rows fused from each leg's ranking
RRF_TOP = 20  # fused rows returned
# corpus-derived lexical query: terms df-ranked 10..12 (mid-frequency —
# below the stopword plateau, above the hapax tail; same derivation as
# text_bm25 so the whole contract is oracle-checkable)
RRF_QRANK_LO, RRF_QRANK_HI = 10, 12
RRF_IDF_SCALE = 1000000


def _rank_fusion_oracle() -> str:
    from spark_graft.operators.text import _TOK

    return f"""
        WITH toks AS (SELECT doc_id, {_TOK} AS ts FROM documents),
        nd AS (SELECT count(*) AS n_docs FROM documents),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
            GROUP BY doc_id, term
        ),
        dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        qterms AS (
            SELECT term, df FROM dft
            ORDER BY df DESC, term
            LIMIT {RRF_QRANK_HI - RRF_QRANK_LO + 1} OFFSET {RRF_QRANK_LO - 1}
        ),
        lex AS (
            SELECT t.doc_id,
                   CAST(sum(t.tf * ((n.n_docs * {RRF_IDF_SCALE}) // q.df))
                        AS BIGINT) AS lex_fx
            FROM tf t JOIN qterms q USING (term) CROSS JOIN nd n
            GROUP BY t.doc_id
        ),
        lex_top AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY lex_fx DESC, doc_id) AS lex_rank
            FROM lex ORDER BY lex_fx DESC, doc_id LIMIT {RRF_LEG_TOP}
        ),
        probe AS (
            SELECT CAST(embedding AS DOUBLE[]) AS pv
            FROM embeddings WHERE {NONZERO_SQL} ORDER BY vec_id LIMIT 1
        ),
        dense_top AS (
            SELECT vec_id AS doc_id,
                   row_number() OVER (
                       ORDER BY list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]), p.pv) DESC, vec_id
                   ) AS dense_rank
            FROM embeddings CROSS JOIN probe p
            WHERE {NONZERO_SQL}
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), p.pv)
                     DESC, vec_id
            LIMIT {RRF_LEG_TOP}
        )
        SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
               l.lex_rank, d.dense_rank,
               coalesce({RRF_SCALE} // ({RRF_K} + l.lex_rank), 0)
               + coalesce({RRF_SCALE} // ({RRF_K} + d.dense_rank), 0) AS rrf_fx
        FROM lex_top l FULL OUTER JOIN dense_top d ON l.doc_id = d.doc_id
        ORDER BY rrf_fx DESC, doc_id LIMIT {RRF_TOP}
    """


@query("rank_fusion", oracle=_rank_fusion_oracle())
def rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a dense retrieval leg —
    the standard hybrid-search combiner (Cormack et al.: score =
    sum over legs of 1/(k + rank), k = {RRF_K}), and the operator a
    retrieval-augmented data pipeline runs to merge BM25-style and
    embedding-based candidate lists without score calibration. Ranks,
    not scores, cross the legs, so the fusion is immune to the legs'
    incomparable score scales.

    Legs (both corpus-derived, so the whole contract is
    oracle-checkable): lexical = log-free tf-idf (tf * (n_docs *
    SCALE div df), text_tfidf's fixed-point contract) against the
    df-ranked-{RRF_QRANK_LO}..{RRF_QRANK_HI} query terms; dense =
    cosine against the deterministic probe vector (minimum-vec_id
    nonzero embedding, the similarity-family contract), joined on the
    fixture's shared doc_id == vec_id id space. rrf_fx is integer:
    {RRF_SCALE} div ({RRF_K} + rank), summed over the legs where the
    doc appears; a doc missing from a leg contributes 0 from it.

    Plan shape: each leg collapses to a {RRF_LEG_TOP}-row
    TakeOrderedAndProject (per-partition heaps — no global sort of
    scores at any corpus size); rank assignment is a window over those
    {RRF_LEG_TOP} rows only (a deliberately tiny SinglePartition, same
    justification as mixture_weights' bounded-cardinality window); the
    fusion itself is a full outer join of two {RRF_LEG_TOP}-row frames.
    The corpus-scale work — tf/df aggregation, cosine scoring — is all
    map-side-partial aggregates and narrow expressions; the query-term
    selection is one O(1)-rows driver collect, the same contract as
    text_bm25's."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens("text").alias("ts"))
    # no empty-corpus early return: the dense leg reads embeddings
    # independently of documents (exactly like the oracle's dense_top
    # CTE), so an empty documents table must still emit dense-only
    # fused rows — the empty-qrows branch below handles the lex side
    n_docs = docs.count()

    tf = (
        base.select("doc_id", F.explode("ts").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    qrows = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(RRF_QRANK_HI)
        .collect()[RRF_QRANK_LO - 1 :]
    )
    rank_w = Window.orderBy(F.desc("_score"), F.asc("doc_id"))
    if qrows:
        idf = {r["term"]: (n_docs * RRF_IDF_SCALE) // r["df"] for r in qrows}
        idf_col = F.coalesce(
            *[F.when(F.col("term") == t, F.lit(v)) for t, v in idf.items()]
        )
        lex_top = (
            tf.filter(F.col("term").isin(list(idf)))
            .groupBy("doc_id")
            .agg(F.sum(F.col("tf") * idf_col).alias("_score"))
            .orderBy(F.desc("_score"), "doc_id")
            .limit(RRF_LEG_TOP)
            .select("doc_id", F.row_number().over(rank_w).cast("bigint").alias("lex_rank"))
        )
    else:
        lex_top = spark.createDataFrame([], "doc_id bigint, lex_rank bigint")

    probe_vec = _probe_vector(spark, sf_dir)
    if probe_vec is not None:
        e = table(spark, sf_dir, "embeddings").filter(nonzero_vec(F.col("embedding")))
        dense_top = (
            e.select(
                F.col("vec_id").alias("doc_id"),
                cosine(F.col("embedding"), _lit_vec(probe_vec)).alias("_score"),
            )
            .orderBy(F.desc("_score"), "doc_id")
            .limit(RRF_LEG_TOP)
            .select(
                "doc_id", F.row_number().over(rank_w).cast("bigint").alias("dense_rank")
            )
        )
    else:
        dense_top = spark.createDataFrame([], "doc_id bigint, dense_rank bigint")

    fused = lex_top.join(dense_top, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.expr(f"{RRF_SCALE} div ({RRF_K} + lex_rank)"), F.lit(0)
    ) + F.coalesce(F.expr(f"{RRF_SCALE} div ({RRF_K} + dense_rank)"), F.lit(0))
    return (
        fused.select("doc_id", "lex_rank", "dense_rank", rrf.alias("rrf_fx"))
        .orderBy(F.desc("rrf_fx"), "doc_id")
        .limit(RRF_TOP)
    )


# ---------------------------------------------------------------- PQ ANN

PQ_M = 8  # subspaces: dim splits into PQ_M contiguous slices
PQ_KS = 16  # codewords per subspace (codes fit one byte with room to 256)
PQ_SUB_D = EMB_DIM // PQ_M  # fixture sub-dimension (oracle literal)


def _pq_quantize(M):
    """Fixed-point HALF-UP quantization — same arithmetic as the kmeans
    assignment kernel (clustering._quantize_assign), so PQ inherits the
    whole determinism contract."""
    import numpy as np

    return np.floor((M.astype(np.float64) + Q_SHIFT) * Q_SCALE + 0.5).astype(
        np.int64
    )


def _pq_cb_parts(cb_m: dict[int, list[int]]):
    """(sorted codeword ids, KSxSUB_D int64 matrix) for one subspace —
    rows sorted by id so np.argmin's first-minimum rule resolves exact
    distance ties to the lowest codeword id, like the oracle's
    ORDER BY d2, cluster."""
    import numpy as np

    cids = sorted(cb_m)
    return np.array(cids, dtype=np.int64), np.array(
        [cb_m[c] for c in cids], dtype=np.int64
    )


def _pq_assign_sub(sub, C):
    """First-minimum integer argmin of one quantized sub-vector batch
    against one codebook matrix (expanded-identity d2, no overflow:
    SUB_D * (2 * Q_SCALE)^2 << 2^63)."""
    import numpy as np

    qn2 = np.einsum("ij,ij->i", sub, sub)
    cn2 = np.einsum("ij,ij->i", C, C)
    d2 = qn2[:, None] + cn2[None, :] - 2 * (sub @ C.T)
    return np.argmin(d2, axis=1)


def _pq_codebooks(spark: SparkSession, e: DataFrame, sub_d: int):
    """Train the PQ_M per-subspace codebooks: seed each subspace with
    the sub-slices of the PQ_KS lowest vec_ids, then ONE Lloyd update
    round (mirroring kmeans N_ITERS=2) for ALL subspaces in a single
    distributed stats pass — mapInPandas emits per-(subspace, codeword)
    partial counts/sums (the map-side combine), the shuffle carries
    ~batches x PQ_M x PQ_KS tiny rows, and only PQ_M x PQ_KS x sub_d
    ints reach the driver. Returns per-subspace {codeword_id: ints};
    codewords that lose every member in the update round drop out,
    exactly like lloyd_centroids (and the oracle's c1)."""

    seeds = e.select("vec_id", "embedding").orderBy("vec_id").limit(PQ_KS).collect()
    if not seeds:
        return None
    cb: list[dict[int, list[int]]] = [dict() for _ in range(PQ_M)]
    for r in seeds:
        q = quantize_vec(r["embedding"])
        for m in range(PQ_M):
            cb[m][int(r["vec_id"])] = q[m * sub_d : (m + 1) * sub_d]
    parts = [_pq_cb_parts(cb[m]) for m in range(PQ_M)]
    schema = "m long, cluster long, n long, " + ", ".join(
        f"s{i} long" for i in range(sub_d)
    )
    cols = schema.replace(" long", "").split(", ")

    def part_fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = _pq_quantize(np.stack(pdf["embedding"].to_numpy()))
            rows = []
            for m in range(PQ_M):
                cids, C = parts[m]
                sub = Q[:, m * sub_d : (m + 1) * sub_d]
                idx = _pq_assign_sub(sub, C)
                for j in np.unique(idx):
                    mask = idx == j
                    rows.append(
                        [m, int(cids[j]), int(mask.sum()), *sub[mask].sum(axis=0).tolist()]
                    )
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    stats = (
        e.select("embedding")
        .mapInPandas(part_fn, schema)
        .groupBy("m", "cluster")
        .agg(
            F.sum("n").alias("n"),
            *[F.sum(f"s{i}").alias(f"s{i}") for i in range(sub_d)],
        )
        .collect()
    )
    cb1: list[dict[int, list[int]]] = [dict() for _ in range(PQ_M)]
    for r in stats:
        cb1[int(r["m"])][int(r["cluster"])] = [
            int(r[f"s{i}"]) // int(r["n"]) for i in range(sub_d)
        ]
    return cb1


@query(
    "sim_ann_pq",
    oracle=f"""
        WITH seeds AS (
            SELECT vec_id FROM embeddings WHERE {NONZERO_SQL}
            ORDER BY vec_id LIMIT {PQ_KS}
        ),
        q AS (
            SELECT vec_id, CAST((i - 1) // {PQ_SUB_D} AS BIGINT) AS m, i AS pos,
                   {_QV} AS qv
            FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
            WHERE {NONZERO_SQL}
        ),
        c0 AS (
            SELECT m, vec_id AS cluster, pos, qv AS qc FROM q
            WHERE vec_id IN (SELECT vec_id FROM seeds)
        ),
        d1 AS (
            SELECT q.vec_id, q.m, c.cluster,
                   CAST(sum((q.qv - c.qc) * (q.qv - c.qc)) AS BIGINT) AS d2
            FROM q JOIN c0 c ON c.pos = q.pos
            GROUP BY q.vec_id, q.m, c.cluster
        ),
        a1 AS (
            SELECT vec_id, m, cluster,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2, cluster) AS rk
            FROM d1
        ),
        c1 AS (
            SELECT a.m, a.cluster, q.pos,
                   CAST(sum(q.qv) // count(*) AS BIGINT) AS qc
            FROM a1 a JOIN q ON q.vec_id = a.vec_id AND q.m = a.m
            WHERE a.rk = 1
            GROUP BY a.m, a.cluster, q.pos
        ),
        d2t AS (
            SELECT q.vec_id, q.m, c.cluster,
                   CAST(sum((q.qv - c.qc) * (q.qv - c.qc)) AS BIGINT) AS d2
            FROM q JOIN c1 c ON c.pos = q.pos
            GROUP BY q.vec_id, q.m, c.cluster
        ),
        a2 AS (
            SELECT vec_id, m, cluster,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2, cluster) AS rk
            FROM d2t
        ),
        codes AS (SELECT vec_id, m, cluster FROM a2 WHERE rk = 1),
        probeq AS (
            SELECT m, pos, qv FROM q
            WHERE vec_id = (SELECT min(vec_id) FROM embeddings WHERE {NONZERO_SQL})
        ),
        dtab AS (
            SELECT c.m, c.cluster,
                   CAST(sum((p.qv - c.qc) * (p.qv - c.qc)) AS BIGINT) AS d2
            FROM probeq p JOIN c1 c ON c.pos = p.pos
            GROUP BY c.m, c.cluster
        ),
        adist AS (
            SELECT cd.vec_id, CAST(sum(dt.d2) AS BIGINT) AS adist_fx
            FROM codes cd JOIN dtab dt ON dt.m = cd.m AND dt.cluster = cd.cluster
            GROUP BY cd.vec_id
        ),
        probe AS (
            SELECT CAST(embedding AS DOUBLE[]) AS pv
            FROM embeddings WHERE {NONZERO_SQL} ORDER BY vec_id LIMIT 1
        ),
        topk AS (
            SELECT vec_id, adist_fx FROM adist
            ORDER BY adist_fx, vec_id LIMIT {TOP_K}
        )
        SELECT t.vec_id, t.adist_fx,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 4)
                   AS cos_sim
        FROM topk t
        JOIN embeddings e ON e.vec_id = t.vec_id
        CROSS JOIN probe p
    """,
)
def sim_ann_pq(
    spark: SparkSession, sf_dir: str, codebooks_path: str | None = None
) -> DataFrame:
    """Product-quantization ANN (Jegou et al., TPAMI'11) — the
    memory-bounded serving form at 100 TB: each vector is represented
    by {PQ_M} one-byte codes (one per contiguous dim slice) instead of
    dim floats (64x compression at dim=64/float32 before the coarse
    index), and the probe scores vectors ASYMMETRICALLY — exact probe
    sub-vector vs quantized codeword — via a {PQ_M}x{PQ_KS} integer
    distance table, so per-vector cost is {PQ_M} table lookups + adds,
    no float math, no vector access. Training composes the existing
    Lloyd machinery per subspace (seed = sub-slices of the {PQ_KS}
    lowest vec_ids, one update round, all subspaces in ONE distributed
    stats pass); dim must divide evenly by PQ_M ({EMB_DIM} fixture ->
    {PQ_SUB_D} dims/subspace). Output: top-{TOP_K} by (asymmetric
    integer distance, vec_id) with the exact cosine rescore of the
    survivors — the standard ADC-then-rescore serving pipeline.

    Fixed-point throughout (quantization, codeword means, distances are
    all int64, ties to the lowest codeword id), so the ENTIRE
    train->encode->ADC->rescore pipeline hash-matches one DuckDB query
    — the same end-to-end determinism guarantee as
    `sim_ann_ivf_trained`, extended to compressed codes. At scale the
    codes table (vec_id, {PQ_M} bytes) is the persisted serving asset;
    re-encoding is one narrow Arrow pass, and ADC never touches the
    raw vectors until the final top-k rescore. `codebooks_path` serves
    a persisted `spark_graft.artifacts` pq_codebooks artifact instead
    of training (VERDICT r10 item 3) — the serve job is then the ADC
    scan + rescore alone."""
    e = table(spark, sf_dir, "embeddings").filter(nonzero_vec(F.col("embedding")))
    probe = _probe_vector(spark, sf_dir)
    if probe is None:
        return spark.createDataFrame(
            [], "vec_id bigint, adist_fx bigint, cos_sim double"
        )
    sub_d = len(probe) // PQ_M
    if codebooks_path is not None:
        # serve a persisted artifacts.pq_codebooks artifact instead of
        # training (VERDICT r10 item 3): ADC runs straight off the scan
        from spark_graft import artifacts

        cb = artifacts.load_pq_codebooks(codebooks_path, sf_dir=sf_dir)
        got_sub = len(next(iter(cb[0].values()))) if cb and cb[0] else 0
        if len(cb) != PQ_M or got_sub != sub_d:
            raise artifacts.ArtifactMismatch(
                f"{codebooks_path}: {len(cb)} subspaces x sub_d {got_sub}, "
                f"corpus needs {PQ_M} x {sub_d}"
            )
    else:
        cb = _pq_codebooks(spark, e, sub_d)

    qp = quantize_vec(probe)
    parts = [_pq_cb_parts(cb[m]) for m in range(PQ_M)]
    # asymmetric distance table: probe sub-vector vs every codeword,
    # integer d2 — PQ_M x PQ_KS ints, computed driver-side and shipped
    # in the UDF closure
    dtab = []
    for m in range(PQ_M):
        _, C = parts[m]
        sub = np.array(qp[m * sub_d : (m + 1) * sub_d], dtype=np.int64)
        dtab.append(np.einsum("ij,ij->i", C - sub, C - sub))

    @F.pandas_udf("long")
    def adist(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int64")
        Q = _pq_quantize(np.stack(emb.to_numpy()))
        total = np.zeros(len(Q), dtype=np.int64)
        for m in range(PQ_M):
            _, C = parts[m]
            idx = _pq_assign_sub(Q[:, m * sub_d : (m + 1) * sub_d], C)
            total += dtab[m][idx]
        return pd.Series(total)

    cos = cosine(F.col("embedding"), _lit_vec(probe))
    return (
        e.select("vec_id", "embedding", adist("embedding").alias("adist_fx"))
        .orderBy("adist_fx", "vec_id")
        .limit(TOP_K)
        .select("vec_id", "adist_fx", F.round(cos, 4).alias("cos_sim"))
    )


# ------------------------------------------------ fused retrieval pipeline


def _embed_index_oracle() -> str:
    from spark_graft.operators.dedup import _emb_oracle

    pair_sql = _emb_oracle().strip()
    return f"""
        WITH {KMEANS_CTES},
        pairs AS (SELECT vec_a, vec_b FROM ({pair_sql}) p),
        dropped AS (SELECT DISTINCT vec_b AS vec_id FROM pairs),
        keepers AS (
            SELECT e.vec_id FROM embeddings e
            LEFT JOIN dropped d ON d.vec_id = e.vec_id
            WHERE d.vec_id IS NULL
        ),
        members AS (SELECT vec_id, cluster, d2 FROM a2 WHERE rk = 1),
        imem AS (SELECT m.* FROM members m JOIN keepers k ON k.vec_id = m.vec_id),
        stats AS (
            SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_n
            FROM imem GROUP BY cluster
        ),
        reps AS (
            SELECT cluster, vec_id AS rep_vec_id FROM (
                SELECT cluster, vec_id,
                       row_number() OVER (PARTITION BY cluster
                                          ORDER BY d2, vec_id) AS rk2
                FROM imem
            ) WHERE rk2 = 1
        ),
        isize AS (SELECT CAST(count(*) AS BIGINT) AS index_size FROM imem),
        {PROBE_SELECT_CTES},
        probe AS (
            SELECT CAST(embedding AS DOUBLE[]) AS pv
            FROM embeddings WHERE {NONZERO_SQL} ORDER BY vec_id LIMIT 1
        )
        SELECT e.vec_id,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv),
                     4) AS cos_sim,
               m.cluster, s.cluster_n, r.rep_vec_id, i.index_size
        FROM embeddings e
        JOIN imem m ON m.vec_id = e.vec_id
        JOIN stats s ON s.cluster = m.cluster
        JOIN reps r ON r.cluster = m.cluster
        CROSS JOIN isize i
        CROSS JOIN probe p
        WHERE m.cluster IN (SELECT cluster FROM pc) AND {NONZERO_SQL}
        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) DESC,
                 e.vec_id
        LIMIT {TOP_K}
    """


@query("pipeline_embed_index", oracle=_embed_index_oracle())
def pipeline_embed_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused RETRIEVAL pipeline — the embedding-modality north-star
    beside pipeline_pretrain_corpus (text) and pipeline_media_corpus
    (media): SemDeDup semantic dedup -> trained-quantizer cell
    assignment of the survivors -> IVF index statistics (per-cell
    population + nearest-to-centroid representative) -> a served
    top-{TOP_K} query over the deduplicated index, as ONE declared
    query. This is the production retrieval-side shape: dedup the
    embedding corpus once, lay it out by trained cell, persist the
    postings, and serve probes that touch only nprobe cells — each
    result row carries its index provenance (cell, cell population,
    cell representative, total index size), so the output hash pins
    every stage at once.

    Stage reuse, not re-implementation: the keep set is dedup_semantic
    verbatim (greedy lower-id survivor over the trained-cell cosine
    pair graph), assignments are kmeans_lloyd verbatim (fixed-point
    Lloyd, deterministic init), probe-cluster selection is
    sim_ann_ivf_trained's integer argmin over the k x {EMB_DIM}
    centroid ints on the driver, and the rescore is the
    bit-deterministic cosine of sim_cosine_topk. The keep set is
    localCheckpoint-staged (the persisted survivor table of a real
    run) so the Python pair-discovery stage runs once; everything
    after it is relational plus the one Arrow assignment map.

    Scale: pair work is dedup_embedding's linear cell blocking; the
    index stats are one partial-aggregated groupBy(cluster) (k rows,
    broadcast back); the probe reads only the {N_PROBE_CLUSTERS}
    probed cells; embeddings never shuffle (stats and rescore both
    reduce before any exchange). Oracle: SemDeDup pair CTEs + the
    unrolled kmeans CTEs + probe/rescore CTEs composed into one SQL
    statement — the whole four-stage pipeline is hash-gated
    end-to-end."""
    from spark_graft.operators.dedup import dedup_semantic

    # the probe-existence check runs FIRST: an empty/all-zero-norm
    # corpus must not pay the full eager pair-discovery + training
    # pipeline just to return the typed empty frame (code-review r13)
    probe = _probe_vector(spark, sf_dir)
    if probe is None:
        return spark.createDataFrame(
            [],
            "vec_id bigint, cos_sim double, cluster int, cluster_n bigint, "
            "rep_vec_id bigint, index_size bigint",
        )

    keep = (
        dedup_semantic(spark, sf_dir)
        .filter(F.col("keep"))
        .select("vec_id")
        .localCheckpoint()
    )
    # one training serves both the assignment and the probe selection
    cents = lloyd_centroids(spark, sf_dir)
    # the POSTINGS table (survivor -> cell, with assignment distance) is
    # the second staged asset: three consumers read it (cell stats,
    # index size, probe-side membership), and without the stage each
    # re-executes the Arrow assignment map over the full corpus
    imem = kmeans_assign(spark, sf_dir, cents).join(keep, "vec_id").localCheckpoint()
    stats = (
        imem.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("cluster_n"),
            F.min(F.struct("d2", "vec_id")).alias("_rep"),
        )
        .select("cluster", "cluster_n", F.col("_rep.vec_id").alias("rep_vec_id"))
    )
    isize = imem.agg(F.count(F.lit(1)).alias("index_size"))
    probe_clusters = _nearest_trained_clusters(cents, probe)

    e = table(spark, sf_dir, "embeddings").filter(nonzero_vec(F.col("embedding")))
    cos = cosine(F.col("embedding"), _lit_vec(probe))
    return (
        e.join(imem.filter(F.col("cluster").isin(probe_clusters)), "vec_id")
        .join(F.broadcast(stats), "cluster")
        .crossJoin(F.broadcast(isize))
        .select(
            "vec_id",
            F.round(cos, 4).alias("cos_sim"),
            "cluster",
            "cluster_n",
            "rep_vec_id",
            "index_size",
            cos.alias("_c"),
        )
        .orderBy(F.col("_c").desc(), "vec_id")
        .limit(TOP_K)
        .drop("_c")
    )


# --------------------------------------------------------------- sim_maxsim

M_SUB, SUB_DIM = 4, 16  # 64-dim embeddings read as 4 x 16-dim "token" vectors


def _maxsim_oracle() -> str:
    """DuckDB twin of sim_maxsim: per-(query-sub, doc-sub) cosines with
    the same zero-subvector guards, greatest() per query subvector,
    term-ordered sum — mirroring the Spark expression tree exactly
    (zero query subvectors add a literal 0.0 on BOTH engines so the
    float addition sequence is identical)."""
    terms = []
    for i in range(M_SUB):
        a, b = i * SUB_DIM + 1, (i + 1) * SUB_DIM
        cands = []
        for j in range(M_SUB):
            c, d = j * SUB_DIM + 1, (j + 1) * SUB_DIM
            cands.append(
                f"(CASE WHEN len(list_filter(e.embedding[{c}:{d}], x -> x <> 0)) > 0 "
                f"THEN list_cosine_similarity(CAST(e.embedding[{c}:{d}] AS DOUBLE[]), "
                f"p.pv[{a}:{b}]) ELSE -2.0 END)"
            )
        terms.append(
            f"(CASE WHEN len(list_filter(p.pv[{a}:{b}], x -> x <> 0)) > 0 "
            f"THEN greatest({', '.join(cands)}) ELSE 0.0 END)"
        )
    score = " + ".join(terms)
    return f"""
        WITH probe AS (
            SELECT CAST(embedding AS DOUBLE[]) AS pv
            FROM embeddings WHERE {NONZERO_SQL} ORDER BY vec_id LIMIT 1
        ),
        scored AS (
            SELECT e.vec_id, ({score}) AS score
            FROM embeddings e CROSS JOIN probe p
            WHERE {NONZERO_SQL}
        )
        SELECT vec_id, round(score, 4) AS maxsim
        FROM scored ORDER BY score DESC, vec_id LIMIT {TOP_K}
    """


@query("sim_maxsim", oracle=_maxsim_oracle())
def sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval: the document
    score is the SUM over query token-vectors of the MAX cosine against
    any document token-vector — the multi-vector scoring that beats
    single-vector cosine on fine-grained matches, here over the 64-dim
    embedding read as {M_SUB} x {SUB_DIM}-dim subvectors (the fixture
    has one vector per doc; a real multi-vector corpus swaps the slice
    expressions for its token-vector array and nothing else changes).

    Zero-subvector guards on BOTH sides (a nonzero 64-dim vector can
    still contain an all-zero 16-dim slice, and cosine is undefined
    there): zero DOC subvectors score -2.0 (below any cosine, never the
    max unless all are zero — impossible under the NONZERO corpus
    filter); zero QUERY subvectors contribute a literal 0.0 to the sum
    in the same term position on both engines, keeping the float
    addition sequence identical.

    Scale shape: identical to sim_cosine_topk (similarity.py:80) — the
    query's subvectors ship as literals, scoring is one narrow codegen
    map ({M_SUB * M_SUB} slice cosines per row), and the top-k is
    TakeOrderedAndProject per-partition heaps. No shuffle of vectors at
    any corpus size; MaxSim costs M^2 = {M_SUB * M_SUB} dot products
    per doc instead of 1, the known late-interaction tradeoff."""
    import numpy as np
    import pandas as pd

    probe_vec = _probe_vector(spark, sf_dir)
    if probe_vec is None:
        return spark.createDataFrame([], "vec_id bigint, maxsim double")
    # Scoring is an Arrow-batched numpy kernel (r18, guide §4.2): the
    # M_SUB x M_SUB per-row slice cosines were interpreted HOF lambdas
    # (zip_with + aggregate folds get no codegen and re-evaluate per
    # element — measured ~2.2s for 2000 rows at sf0.1; the numpy batch
    # form of the same arithmetic runs the whole corpus in
    # milliseconds). Bit-exactness is preserved the same way
    # dedup_embedding's kernel proves: float32 widens to float64
    # losslessly, np.cumsum adds left-to-right — the exact fold order
    # of the SQL dot()/norm() aggregates — the divide/clamp sequence is
    # identical, per-term max == greatest, and the M_SUB terms sum in
    # the same fixed order (zero query slices contribute literal 0.0 in
    # position). Rounding and top-k stay relational.
    q = np.asarray(probe_vec, dtype=np.float64)
    q_slices = [q[i * SUB_DIM : (i + 1) * SUB_DIM] for i in range(M_SUB)]
    q_norms = [
        np.sqrt(np.cumsum(s * s)[-1]) if np.any(s != 0.0) else None
        for s in q_slices
    ]

    def maxsim_batches(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        # np.stack hard-fails on ragged/short embedding rows (ADVICE
        # r18) — the deliberate repo-wide fixed-DIM data contract
        # (dedup.py / pipeline.py kernels np.stack identically, and the
        # NONZERO/DIM fixture invariant is enforced at generation). A
        # corpus without that upstream guarantee must filter
        # size(embedding) = DIM before this map; do not silently pad.
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d_slices = [m[:, j * SUB_DIM : (j + 1) * SUB_DIM] for j in range(M_SUB)]
            d_nonzero = [np.any(dj != 0.0, axis=1) for dj in d_slices]
            d_norms = [
                np.sqrt(np.cumsum(dj * dj, axis=1)[:, -1]) for dj in d_slices
            ]
            score = np.zeros(len(pdf), dtype=np.float64)
            for i in range(M_SUB):
                if q_norms[i] is None:
                    continue  # zero query slice: + 0.0 in this position
                cands = []
                for j in range(M_SUB):
                    dots = np.cumsum(d_slices[j] * q_slices[i], axis=1)[:, -1]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        raw = dots / (d_norms[j] * q_norms[i])
                    c = np.clip(raw, -1.0, 1.0)
                    cands.append(np.where(d_nonzero[j], c, -2.0))
                score = score + np.max(np.stack(cands), axis=0)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "_s": score})

    e = (
        table(spark, sf_dir, "embeddings")
        .filter(nonzero_vec(F.col("embedding")))
        .select("vec_id", "embedding")
    )
    scored = e.mapInPandas(maxsim_batches, "vec_id bigint, _s double")
    return (
        scored.select("vec_id", F.round("_s", 4).alias("maxsim"), "_s")
        .orderBy(F.col("_s").desc(), "vec_id")
        .limit(TOP_K)
        .drop("_s")
    )
