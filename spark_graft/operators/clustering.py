"""Iterative numerical clustering: Lloyd's k-means on the embeddings
table, in fixed-point integer arithmetic.

Third member of the reference's iterative-driver family (R12,
main.cpp:28-68) after connected components (`dedup_clusters`) and
PageRank (`graph_pagerank`): a host-language loop that re-issues one
distributed job per round. K-means is the loop that matters for
embedding pipelines — it is exactly how the IVF coarse quantizer of
`sim_ann_ivf` gets trained (that query probes fixed centroids; this one
produces them).

Scale shape per round: at small k centroids are k×64 integers shipped
in the UDF closure (the degenerate broadcast — no shuffle, no join);
past SPARK_GRAFT_HIER_K_MIN centroids `make_assigner` switches to a
Spark broadcast carrying the matrix once per executor plus a
triangle-inequality-pruned argmin (`_HierAssigner`) so task closures
stay O(1) and per-row cost ~O(sqrt(k)) as k grows with the corpus —
bit-identical output either way. Assignment is a narrow Arrow-batched
numpy map (`assignment_udf` — see its docstring for why dense linear
algebra must NOT be a Catalyst expression tree), and the centroid
update is 64 JVM-side sum aggregates with map-side partials — one
shuffle of per-batch partial rows. The only driver traffic is the k×64
centroid matrix per round.

Numerics: embeddings are quantized to positive fixed-point bigints
(round((x + 1) * 1e6); the data lives in (-1, 1)), so every distance,
sum, and mean is integer arithmetic — order-independent and therefore
bit-identical across engines and partitionings. Floating-point k-means
cannot be hash-gated (centroid-mean sum order flips low bits and then
flips assignments); the fixed-point one can. Tie-breaks: equal
distances resolve to the lowest cluster id, everywhere.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_graft.registry import query
from spark_graft.sources import table

K = 8  # clusters; init = the K lowest vec_ids (deterministic, no RNG)
N_ITERS = 2  # fixed so the oracle can unroll; production loops on shift
Q_SCALE = 1000000.0
Q_SHIFT = 1.0  # data range is (-1, 1); shifting keeps quantized values
# positive so integer-division semantics (floor vs truncate) agree
# between engines by never being exercised on negatives


def quantize_vec(xs) -> list[int]:
    """Fixed-point HALF-UP quantization of ONE float vector — the
    scalar twin of the `_quantize_assign` matrix kernel below (identical
    IEEE-double arithmetic: math.floor on float64 == np.floor). Every
    driver-side quantization (trained-IVF probe, PQ probe, PQ codebook
    seeds) must go through this ONE definition: the cross-engine
    determinism contract hinges on train/encode/probe staying
    bit-identical, so a drift in any one re-implementation would
    silently desynchronize them."""
    import math

    return [math.floor((float(x) + Q_SHIFT) * Q_SCALE + 0.5) for x in xs]


# the inner CAST AS DOUBLE is load-bearing: DuckDB would otherwise run
# the whole expression in FLOAT (7 significant digits — off-by-one at
# the 1e6 quantization scale), while Spark computes in double
_QV = (
    f"CAST(round((CAST(embedding[i] AS DOUBLE) + {Q_SHIFT}) * {Q_SCALE}) AS BIGINT)"
)


def _dist_cte(cent: str, dist: str, assign: str) -> str:
    """One unrolled assignment round: distances to `cent`, then argmin
    per vector (ties to the lowest cluster id)."""
    return f"""
        {dist} AS (
            SELECT q.vec_id, c.cluster,
                   CAST(sum((q.qv - c.qc) * (q.qv - c.qc)) AS BIGINT) AS d2
            FROM q JOIN {cent} c USING (pos)
            GROUP BY q.vec_id, c.cluster
        ),
        {assign} AS (
            SELECT vec_id, cluster, d2,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cluster) AS rk
            FROM {dist}
        )"""


def quantized_col():
    """The fixed-point quantization of the embedding column — ALWAYS
    stage the result as its own projection before handing it to the HOF
    expressions below (see functions.shingles_from_tokens for the
    measured trap)."""
    return F.transform(
        "embedding",
        lambda x: F.round((x.cast("double") + F.lit(Q_SHIFT)) * F.lit(Q_SCALE))
        .cast("long"),
    )


def _centroid_matrix(cents: dict[int, list[int]]):
    """(sorted cluster ids, k x dim int64 matrix, per-row |c|^2).
    An empty dict (training saw zero vectors) yields (0,)-shaped parts —
    consumers only evaluate them on rows, of which there are then none."""
    cids = sorted(cents)
    if not cids:
        z = np.array([], dtype=np.int64)
        return z, np.zeros((0, 1), dtype=np.int64), z
    C = np.array([cents[c] for c in cids], dtype=np.int64)
    return np.array(cids, dtype=np.int64), C, np.einsum("ij,ij->i", C, C)


def _quantize_assign(M: np.ndarray, C: np.ndarray, cn2: np.ndarray):
    """Shared numpy kernel: quantize a batch of raw float32 vectors and
    assign each to its nearest centroid row. Returns (Q int64 matrix,
    d2-to-nearest, row index into C). See `assignment_udf` for the
    determinism contract this arithmetic upholds."""
    Q = np.floor((M.astype(np.float64) + Q_SHIFT) * Q_SCALE + 0.5).astype(np.int64)
    qn2 = np.einsum("ij,ij->i", Q, Q)
    d2 = qn2[:, None] + cn2[None, :] - 2 * (Q @ C.T)
    idx = np.argmin(d2, axis=1)
    return Q, d2[np.arange(len(idx)), idx], idx


# Centroid counts >= this switch the assignment kernel from closure
# literals + flat argmin to a Spark broadcast + coarse-pruned argmin
# (VERDICT r8 item 2). Env-overridable so CI can force the large-k
# path at small k and property-test it bit-identical to the flat one.
_HIER_K_MIN_DEFAULT = 4096


def _hier_k_min() -> int:
    return int(os.environ.get("SPARK_GRAFT_HIER_K_MIN", _HIER_K_MIN_DEFAULT))


class _FlatAssigner:
    """Small-k kernel: centroids ride the task closure as numpy
    literals (the degenerate broadcast), one dense argmin per batch."""

    def __init__(self, cids: np.ndarray, C: np.ndarray, cn2: np.ndarray):
        self._cids, self._C, self._cn2 = cids, C, cn2

    def assign(self, M: np.ndarray):
        """(Q int64 matrix, d2-to-nearest, cluster id of nearest)."""
        Q, d2, idx = _quantize_assign(M, self._C, self._cn2)
        return Q, d2, self._cids[idx]

    def release(self) -> None:
        """No distributed state to free (closure-literal kernel)."""


class _HierAssigner:
    """Large-k kernel: EXACT nearest-centroid assignment in
    O(k' + scanned cells) per row instead of O(k), k' ~ sqrt(k).

    The k fine centroids are grouped under k' coarse centers (a tiny
    deterministic Lloyd run over the centroid matrix itself, seeded by
    the k' lowest cluster ids). Each group stores its coarse center and
    radius r_g = max Euclidean distance from the coarse center to a
    member. For a query q, the triangle inequality gives the exact
    lower bound  min_{c in g} d(q, c) >= max(d(q, g_center) - r_g, 0),
    so after seeding `best` with the full scan of q's nearest coarse
    group, every group whose bound exceeds `best` is skipped without
    touching its members. The bound is computed in float64 with a
    downward slack (relative 1e-9 and absolute 1.0 on integers < 2^53,
    dwarfing the ~4-ulp sqrt/multiply error), so pruning can only be
    CONSERVATIVE — groups that could hold the minimum, or tie it, are
    always scanned, and ties still resolve to the lowest cluster id
    exactly as the flat kernel and the DuckDB oracle do. Property- and
    CI-tested bit-identical to `_FlatAssigner` (tests/test_props.py,
    tests/test_units.py)."""

    COARSE_ROUNDS = 2

    def __init__(self, cids: np.ndarray, C: np.ndarray, cn2: np.ndarray):
        self._cids, self._C, self._cn2 = cids, C, cn2
        k = len(cids)
        kp = int(math.isqrt(max(k - 1, 0))) + 1
        GC = C[:kp].astype(np.int64)
        g = None
        for _ in range(self.COARSE_ROUNDS):
            gn2 = np.einsum("ij,ij->i", GC, GC)
            d2 = cn2[:, None] + gn2[None, :] - 2 * (C @ GC.T)
            g = np.argmin(d2, axis=1)
            for j in range(kp):
                m = g == j
                if m.any():  # empty coarse groups keep their center
                    GC[j] = C[m].sum(axis=0) // int(m.sum())
        gn2 = np.einsum("ij,ij->i", GC, GC)
        d2 = cn2[:, None] + gn2[None, :] - 2 * (C @ GC.T)
        g = np.argmin(d2, axis=1)
        self._members = [np.where(g == j)[0] for j in range(kp)]
        self._GC, self._gn2 = GC, gn2
        # per-group radius: max member distance to the coarse center,
        # rounded UP so the bound below can only loosen
        self._radius = np.array(
            [
                math.sqrt(float(d2[m, j].max())) * (1 + 1e-12) if len(m) else 0.0
                for j, m in enumerate(self._members)
            ]
        )

    def assign(self, M: np.ndarray):
        Q = np.floor((M.astype(np.float64) + Q_SHIFT) * Q_SCALE + 0.5).astype(
            np.int64
        )
        qn2 = np.einsum("ij,ij->i", Q, Q)
        d2c = qn2[:, None] + self._gn2[None, :] - 2 * (Q @ self._GC.T)
        dc = np.sqrt(np.maximum(d2c, 0).astype(np.float64))
        lb = np.maximum(dc - self._radius[None, :], 0.0)
        lb = lb * lb * (1 - 1e-9) - 1.0  # safe int64 lower bound
        g0 = np.argmin(d2c, axis=1)
        n = len(Q)
        imax = np.iinfo(np.int64).max
        best_d2 = np.full(n, imax, dtype=np.int64)
        best_cid = np.full(n, imax, dtype=np.int64)
        rows_idx = np.arange(n)
        for phase in (0, 1):
            for j, mi in enumerate(self._members):
                if len(mi) == 0:
                    continue
                if phase == 0:
                    rows = rows_idx[g0 == j]
                else:
                    rows = rows_idx[(g0 != j) & (lb[:, j] <= best_d2)]
                if len(rows) == 0:
                    continue
                sub = Q[rows]
                d2 = (
                    qn2[rows][:, None]
                    + self._cn2[mi][None, :]
                    - 2 * (sub @ self._C[mi].T)
                )
                jj = np.argmin(d2, axis=1)  # first min -> lowest cid in group
                dmin = d2[np.arange(len(rows)), jj]
                cand = self._cids[mi[jj]]
                upd = (dmin < best_d2[rows]) | (
                    (dmin == best_d2[rows]) & (cand < best_cid[rows])
                )
                r = rows[upd]
                best_d2[r] = dmin[upd]
                best_cid[r] = cand[upd]
        return Q, best_d2, best_cid


class _BroadcastAssigner:
    """Serving wrapper for the large-k path: what crosses the task
    boundary is a Spark Broadcast HANDLE (a few bytes in every task
    closure) instead of the k x dim centroid matrix itself. The
    broadcast VALUE is the fully-built _HierAssigner — coarse index,
    radii and all — so the O(k^1.5) index construction happens exactly
    once on the driver; workers deserialize it once per executor
    (Broadcast.value is executor-cached) and every task after that is
    a pure in-memory assign."""

    def __init__(self, bc):
        self._bc = bc

    def assign(self, M: np.ndarray):
        return self._bc.value.assign(M)

    def release(self) -> None:
        """Free the executor- and driver-side broadcast blocks. Only
        call once no job that captured this assigner can still run
        (the callers here `.collect()` eagerly before releasing)."""
        try:
            self._bc.destroy(blocking=False)
        except Exception:  # already destroyed / context gone — both fine
            pass


# Serving-path broadcast assigners (k >= SPARK_GRAFT_HIER_K_MIN only),
# keyed on centroid CONTENT, so repeated serving queries over one
# trained quantizer reuse a single broadcast instead of leaking one per
# call (ADVICE r9: make_assigner used to create a fresh k x dim
# broadcast per invocation and never unpersist it). This owns broadcast
# LIFETIME, not results: the centroids are trained by every call.
# Training-loop assigners bypass this cache (transient=True) and are
# destroyed as soon as their round's job has collected.
_BC_ASSIGNER_CACHE: dict[tuple, _BroadcastAssigner] = {}


def _cents_key(cids: np.ndarray, C: np.ndarray) -> tuple:
    import hashlib

    return (len(cids), hashlib.md5(cids.tobytes() + C.tobytes()).hexdigest())


def make_assigner(
    cents: dict[int, list[int]],
    spark: SparkSession | None = None,
    *,
    transient: bool = False,
):
    """The nearest-centroid kernel shared by `assignment_udf` and
    `_update_stats`. Small k (< SPARK_GRAFT_HIER_K_MIN, default
    {_HIER_K_MIN_DEFAULT}): centroids as closure literals + flat argmin
    — O(k x dim) bytes per task closure, milliseconds at the hundreds
    of centroids this workload trains. Large k with a live session:
    centroids + coarse index in a Spark broadcast, triangle-inequality
    pruned argmin — closure stays O(1) as k grows with the corpus
    (VERDICT r8 item 2: at 1e9 vectors / k ~ 4e6 the literal path would
    ship ~2 GB per task). Both paths produce bit-identical (cluster,
    d2) for every input; the switch is physical only.

    Note the coarse index is built once driver-side (O(k^1.5 x dim)
    int ops — ~seconds up to k ~ 1e5); past that the coarse level
    itself would be trained distributedly with the same Lloyd loop,
    which this architecture admits without changing the serving
    contract.

    Broadcast lifecycle: pass ``transient=True`` when the assigner is
    consumed by exactly one eagerly-executed job (the Lloyd update
    rounds) and call ``release()`` afterwards; the default serving path
    instead memoizes one broadcast per distinct centroid matrix in
    `_BC_ASSIGNER_CACHE`, so a long-lived driver holds O(#live
    quantizers) broadcast state, not O(#queries)."""
    parts = _centroid_matrix(cents)
    if spark is not None and len(cents) >= _hier_k_min():
        sc = spark.sparkContext
        if not transient:
            # key includes the SparkContext identity: the same centroid
            # matrix can be served again after a session restart, but a
            # cached broadcast belongs to the STOPPED context — reusing
            # it would fail with "Broadcast used after SparkContext
            # shutdown" instead of rebroadcasting under the new one
            key = (sc.applicationId, *_cents_key(parts[0], parts[1]))
            cached = _BC_ASSIGNER_CACHE.get(key)
            if cached is not None:
                return cached
        bc = sc.broadcast(_HierAssigner(*parts))
        assigner = _BroadcastAssigner(bc)
        if not transient:
            _BC_ASSIGNER_CACHE[key] = assigner
        return assigner
    return _FlatAssigner(*parts)


def assignment_udf(cents: dict[int, list[int]], spark: SparkSession | None = None):
    """Arrow-vectorized nearest-centroid assignment: returns a
    struct(cluster, d2) column — nearest centroid id (ties -> lowest
    cluster id) and the integer squared distance to it. Centroid
    delivery and argmin strategy are chosen by `make_assigner` (closure
    literals + flat scan at small k; broadcast + coarse-pruned exact
    scan at large k).

    Why a pandas UDF and not column expressions: k x dim = 512
    (element - literal)^2 terms is one expression tree Spark cannot
    whole-stage-codegen (the generated method exceeds the JIT limits, the
    stage falls back to interpreted eval, and ships a ~2 MB task
    binary). Measured at sf1 (500k x 64): zip_with+aggregate HOF 43.7s,
    unrolled element_at 52.3s, staged per-cluster columns 19.6s,
    THIS (Arrow batch -> one numpy int64 matmul per batch) 1.1s — and
    bit-identical output on all 500k rows. Dense linear algebra is the
    one place batched numpy beats Catalyst expressions, which is exactly
    what the Arrow UDF path is for.

    Determinism contract (what the DuckDB oracle hash-checks):
    - quantization floor(v + 0.5) == round-HALF-UP == Spark F.round ==
      DuckDB round for these values: v = (float32 + 1) * 1e6 is EXACT in
      float64 (<= 44 significant bits), so v + 0.5 never rounds and the
      floor is the true half-up result;
    - d2 via the expanded identity |q|^2 + |c|^2 - 2 q.c in int64 is the
      same integer as sum((q-c)^2) — no overflow, dim * (2*Q_SCALE)^2
      = 64 * 4e12 << 2^63;
    - np.argmin returns the FIRST minimum, and rows of C are sorted by
      cluster id -> ties resolve to the lowest id, like the oracle's
      ORDER BY d2, cluster (the hierarchical kernel upholds the same
      rule — see _HierAssigner)."""
    assigner = make_assigner(cents, spark)

    @F.pandas_udf("cluster long, d2 long")
    def assign(emb: pd.Series) -> pd.DataFrame:
        if len(emb) == 0:
            return pd.DataFrame({"cluster": [], "d2": []})
        _, d2, cid = assigner.assign(np.stack(emb.to_numpy()))
        return pd.DataFrame({"cluster": cid, "d2": d2})

    return assign


def _update_stats(
    emb: DataFrame,
    cents: dict[int, list[int]],
    dim: int,
    spark: SparkSession | None = None,
):
    """One Lloyd centroid-update pass: per-cluster member count and
    per-dimension sums of the quantized vectors.

    The partial sums are computed INSIDE the Arrow batches with numpy
    (`mapInPandas` emitting one stats row per cluster PRESENT in the
    batch — the map-side combine), so the shuffle carries
    ~batches x min(k, batch) tiny rows and the final groupBy is over
    hundreds of rows. The same work as 64 JVM-side
    `sum(round(embedding[i]..))` aggregate columns, which measured 11s
    at sf1 (64 aggregate expressions overflow codegen); this path is
    ~1s. Integer sums are order-independent, so the result is
    bit-identical however batches land. Centroid delivery follows
    `make_assigner` (literals below the k threshold, broadcast above);
    the assigner is transient — each round's centroids are superseded
    by the next, so the broadcast is destroyed right after the eager
    collect instead of accumulating one per round on the driver."""
    assigner = make_assigner(cents, spark, transient=True)
    schema = "cluster long, n long, " + ", ".join(f"s{i} long" for i in range(dim))
    cols = schema.replace(" long", "").split(", ")

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q, _, cid = assigner.assign(np.stack(pdf["embedding"].to_numpy()))
            rows = []
            for c in np.unique(cid):
                mask = cid == c
                rows.append([int(c), int(mask.sum()), *Q[mask].sum(axis=0).tolist()])
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    try:
        return (
            emb.select("embedding")
            .mapInPandas(part, schema)
            .groupBy("cluster")
            .agg(
                F.sum("n").alias("n"),
                *[F.sum(f"s{i}").alias(f"s{i}") for i in range(dim)],
            )
            .collect()
        )
    finally:
        assigner.release()


def lloyd_centroids(
    spark: SparkSession, sf_dir: str, k: int = K, dim: int | None = None
) -> dict[int, list[int]]:
    """Run the Lloyd training loop ({N_ITERS - 1} centroid update(s)
    from the deterministic lowest-vec_id seed) and return the final
    integer centroid matrix — the coarse quantizer `sim_ann_ivf_trained`
    serves from. Only k×dim ints cross the driver per round.

    `k` defaults to the fixed K=8 of kmeans_lloyd / sim_ann_ivf_trained;
    dedup_embedding passes a data-derived k (~n / target cell size) so
    its blocking cells stay constant-sized as the corpus grows — and the
    `dim` it already knows, saving the lookup job. Every call trains;
    a caller that serves one training many times persists it with
    spark_graft.artifacts."""
    emb = table(spark, sf_dir, "embeddings")
    if dim is None:
        first = emb.select(F.size("embedding")).first()
        if first is None:  # zero vectors: nothing to train on
            return {}
        dim = int(first[0])
    seed = (
        emb.select("vec_id", quantized_col().alias("q"))
        .filter(F.col("vec_id") < k)
        .orderBy("vec_id")
        .collect()
    )
    cents = {int(r["vec_id"]): [int(v) for v in r["q"]] for r in seed}
    for _ in range(N_ITERS - 1):
        stats = _update_stats(emb, cents, dim, spark)
        cents = {
            int(r["cluster"]): [int(r[f"s{i}"]) // int(r["n"]) for i in range(dim)]
            for r in stats
        }
    return cents


# the full unrolled training pipeline as oracle CTEs — shared by
# kmeans_lloyd and by sim_ann_ivf_trained's oracle (which serves the
# trained quantizer): q = quantized position-exploded vectors,
# c1 = centroids after the update round, a2 = final assignments.
# `k_sql` is any SQL expression for the cluster count — the fixed
# default `8` for kmeans_lloyd / sim_ann_ivf_trained, a count(*)-derived
# scalar subquery for dedup_embedding's grow-with-n quantizer.


def kmeans_ctes(k_sql: str = str(K)) -> str:
    return f"""q AS (
            SELECT vec_id, i AS pos, {_QV} AS qv
            FROM embeddings,
                 unnest(generate_series(1, len(embedding))) AS u(i)
        ),
        c0 AS (SELECT vec_id AS cluster, pos, qv AS qc FROM q WHERE vec_id < {k_sql}),
        {_dist_cte("c0", "d1", "a1")},
        c1 AS (
            SELECT a.cluster, q.pos,
                   CAST(sum(q.qv) // count(*) AS BIGINT) AS qc
            FROM a1 a JOIN q ON q.vec_id = a.vec_id
            WHERE a.rk = 1
            GROUP BY a.cluster, q.pos
        ),
        {_dist_cte("c1", "d2_", "a2")}"""


KMEANS_CTES = kmeans_ctes()


@query(
    "kmeans_lloyd",
    oracle=f"""
        WITH {KMEANS_CTES}
        SELECT vec_id, cluster, d2 FROM a2 WHERE rk = 1
    """,
)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{N_ITERS} unrolled Lloyd rounds, k={K}, deterministic init (the
    {K} lowest vec_ids as seed centroids). Returns each vector's final
    cluster and its squared fixed-point distance to that centroid. See
    the module docstring for the scale shape and why the arithmetic is
    integer. The oracle re-derives the same rounds relationally
    (position-exploded join instead of array ops) — two independent
    implementations, one hash."""
    return kmeans_assign(spark, sf_dir, lloyd_centroids(spark, sf_dir))


def kmeans_assign(
    spark: SparkSession, sf_dir: str, cents: dict[int, list[int]]
) -> DataFrame:
    """(vec_id, cluster, d2): each vector's nearest of `cents`."""
    return (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", assignment_udf(cents, spark)("embedding").alias("b"))
        .select(
            "vec_id", F.col("b.cluster").alias("cluster"), F.col("b.d2").alias("d2")
        )
    )
