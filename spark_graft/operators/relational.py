"""Core relational operators: scans, filters, aggregations, sorts, set ops,
and the flagship iterative min-unique-prefix query.

Reference parity (SURVEY.md §2a): the reference's map stage is a projection
(R3, MapReduce.h:178-190), its reduce stage a sorted-group aggregation
(R8, MapReduce.h:192-208) with a bool-AND collapse (R9, MapReduce.h:
348-371), its merge a global sort (R5, ExternalMergeSort.h:39-118), and
its driver an iterative multi-job loop (R12, main.cpp:28-68). Each is
re-expressed declaratively so Catalyst picks the physical strategy:
filters/projections push into the parquet scan, aggregations get map-side
partial aggregation (the combiner the reference lacks), sorts get
range-partitioned TakeOrderedAndProject for top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_graft.functions import davg, davg_sql, dsum, dsum_sql, md5_bucket, tokens
from spark_graft.registry import query
from spark_graft.sources import table

# ------------------------------------------------------------------ sources


@query(
    "scan_project",
    oracle="SELECT l_orderkey, l_partkey, l_quantity FROM lineitem",
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection scan (ref R1/R3: text scan + per-record map).

    Catalyst prunes the parquet read to exactly these 3 columns
    (ReadSchema in the physical plan) — the columnar analogue of the
    reference's line-by-line projection."""
    return table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")


@query(
    "text_lines",
    oracle="SELECT count(*) AS n_lines FROM documents WHERE length(text) > 0",
)
def text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-empty line count (ref R1: blank lines dropped, MapReduce.h:227-241)."""
    return (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


# ------------------------------------------------------------------ filters


@query(
    "filter_pred",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        FROM lineitem
        WHERE l_quantity > 30 AND l_discount BETWEEN 0.02 AND 0.06
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate; both conjuncts reach the scan as PushedFilters."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30) & F.col("l_discount").between(0.02, 0.06)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@query(
    "filter_in_null",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderpriority
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_custkey IS NOT NULL
    """,
)
def filter_in_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list + null-safe predicate (pushed down as In + IsNotNull)."""
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH") & F.col("o_custkey").isNotNull())
        .select("o_orderkey", "o_custkey", "o_orderpriority")
    )


# ------------------------------------------------------------- aggregations


@query(
    "agg_q1",
    oracle=f"""
        SELECT
            l_returnflag,
            l_linestatus,
            {dsum_sql("l_quantity")} AS sum_qty,
            {dsum_sql("l_extendedprice")} AS sum_base_price,
            {dsum_sql("l_extendedprice * (1 - l_discount)", scale=6)} AS sum_disc_price,
            {dsum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", scale=6)} AS sum_charge,
            {davg_sql("l_quantity")} AS avg_qty,
            {davg_sql("l_discount")} AS avg_disc,
            count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (ref R8 generalized: sorted-group reduce -> hash agg).

    groupBy().agg() gives map-side partial aggregation — the combiner the
    reference explicitly lacks (SURVEY.md §2a quirks) — so the shuffle
    carries one row per (group, map partition), not per input row.
    Decimal-exact sums keep the result order-insensitive for hashing."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            # scale 6 >= exact decimal count of products of 2-decimal
            # inputs -> the decimal cast never lands on a rounding
            # half-boundary (where Spark HALF_UP and DuckDB disagree)
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6).alias("sum_disc_price"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
                scale=6,
            ).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_distinct",
    oracle="""
        SELECT c_nationkey,
               count(DISTINCT c_mktsegment) AS n_segments,
               count(*) AS n_customers
        FROM customer GROUP BY c_nationkey
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT per group — Catalyst expands to a two-stage
    partial/final aggregate (Expand + HashAggregate), keeping the distinct
    de-dup distributed instead of collecting per-group sets."""
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query(
    "agg_bool_all",
    oracle="""
        SELECT l_returnflag, bool_and(l_discount <= 0.08) AS all_low_disc,
               bool_or(l_quantity >= 49) AS any_huge_qty
        FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bool_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ALL/ANY aggregate (ref R9: reducer output collapsed to
    '1' iff no false, MapReduce.h:348-371 — bool_and is its exact
    algebraic form, here with map-side partials)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.every(F.col("l_discount") <= 0.08).alias("all_low_disc"),
            F.some(F.col("l_quantity") >= 49).alias("any_huge_qty"),
        )
    )


APPROX_RSD = 0.02  # HLL++ target relative standard deviation
# Accept within 4 sigma of the exact count. False-failure probability
# (a LEGITIMATE sketch estimate outside the envelope on a fresh
# dataset): HLL error is ~Gaussian for large n, so P ~ 6e-5 per group
# at 4 sigma (vs ~2.7e-3 at the former 3 sigma — widened in round 7 per
# ADVICE so regenerated test data can't turn an expected-tail event
# into a driver hash failure). Small groups are safer still: below the
# sparse->dense threshold HLL++ counts exactly, and the absolute floor
# in the check below covers the transition region.
APPROX_ENVELOPE = 4 * APPROX_RSD
APPROX_SAMPLE_PCT = 10  # validate on a 10% md5 sample of the key space


@query(
    "agg_approx",
    oracle=f"""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS exact_parts,
               TRUE AS approx_within_{int(APPROX_ENVELOPE * 100)}pct
        FROM lineitem
        WHERE CAST(('0x' || substr(md5('apx:' || CAST(l_partkey AS VARCHAR)), 1, 8))
                   AS BIGINT) % 100 < {APPROX_SAMPLE_PCT}
        GROUP BY l_returnflag
    """,
)
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct count — constant memory per
    group at any scale (the 100 TB substitute for exact countDistinct).

    Sketch estimates are engine-specific, so the oracle checks a
    KEYS+BOUNDS contract instead of the estimate itself: the query
    emits an exact count (the yardstick) plus a boolean asserting the
    HLL estimate landed within 4x its configured rsd; the oracle
    recomputes the exact count and expects TRUE. An out-of-envelope
    sketch therefore fails the driver's hash gate rather than hiding
    behind a rows-only check.

    Round 7 (VERDICT r6 item 3): the yardstick is computed on a
    deterministic 10% md5 sample of the KEY SPACE (`md5_bucket` on
    l_partkey — a distinct-value sample, so sketch-vs-exact compare the
    same key population), exactly the "validate on samples" discipline
    the production pipeline runs: the full-corpus query ships the
    sketch column alone; this sampled validation job pays exact
    countDistinct on ~10% of keys instead of 100%. The absolute floor
    of 8 keys in the envelope covers tiny groups where relative error
    is undefined-ish but HLL++ sparse mode is exact anyway."""
    env = F.greatest(F.col("exact_parts") * APPROX_ENVELOPE, F.lit(8.0))
    # Dedup (flag, partkey) with a PLAIN aggregate before the HLL (r18):
    # mixing countDistinct with approx_count_distinct makes Catalyst's
    # distinct rewrite key the partial aggregate by (flag, partkey) — so
    # every one of those rows carried the rsd=0.02 sketch's 410-word
    # register buffer (~3.3 KB/row) through the exchange; the sketch
    # buffer must exist per GROUP, not per distinct value. HLL register
    # updates are duplicate-insensitive (max of rank per bucket), so the
    # estimate over the deduplicated value set is bit-identical, and
    # count(l_partkey) over distinct rows IS countDistinct(l_partkey).
    # Shuffle: narrow (flag, partkey) pairs + 3 sketch buffers total.
    return (
        table(spark, sf_dir, "lineitem")
        .where(md5_bucket("apx:", F.col("l_partkey")) < APPROX_SAMPLE_PCT)
        .select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=APPROX_RSD).alias("approx_parts"),
            F.count("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (F.abs(F.col("approx_parts") - F.col("exact_parts")) <= env).alias(
                f"approx_within_{int(APPROX_ENVELOPE * 100)}pct"
            ),
        )
    )


@query(
    "grouping_rollup",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_rows,
               {dsum_sql("l_quantity")} AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals in one pass (Expand operator — each input
    row fans out to its grouping sets; no second scan)."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity").alias("sum_qty"))
    )


@query(
    "grouping_cube",
    oracle=f"""
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n_orders,
               {dsum_sql("o_totalprice")} AS sum_price
        FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """,
)
def grouping_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all 4 grouping sets in one shuffle."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("sum_price"))
    )


@query(
    "agg_percentile",
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
               round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
               round(median(l_extendedprice), 4) AS med
        FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group, computed scale-safe.

    Spark's built-in percentile() is a TypedImperativeAggregate that
    buffers EVERY group value in an in-heap map — at sf1 (6M rows) it
    OOMed a 32-thread local JVM before anything could spill, and at
    100 TB it's guaranteed to. This form never holds a group in memory:

      1. groupBy(flag, value) -> per-distinct-value counts — a
         well-distributed composite-key shuffle with partial aggs;
      2. running count over the DISTINCT values per group (external
         spillable sort + streaming UnboundedPreceding frame, constant
         state) to assign each value its 0-based rank interval;
      3. broadcast the per-group row counts, pick the two neighbor
         values around each target rank floor(p*(n-1))/ceil(p*(n-1))
         with conditional max() aggregates, and linearly interpolate
         exactly as percentile() does (percentiles.scala getPercentile:
         (hi-pos)*lo_val + (pos-lo)*hi_val, integer pos -> lo_val).

    Memory is bounded by a shuffle page, not group cardinality; the
    single-task-per-group stage sees one row per DISTINCT value (here
    price domain, bounded), not per input row. For an unbounded
    continuous domain the next escalation is range-partitioned rank
    selection (global sort + partition-offset prefix sums); for
    sketch-tolerant consumers, approx_percentile (t-digest, mergeable)
    — see agg_approx_percentile. DuckDB's quantile_cont matches this
    interpolation after round(4)."""
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    vc = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("c")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # value v covers 0-based sorted positions [cum_end - c, cum_end - 1].
    # The per-group total n rides the SAME window partitioning as an
    # unbounded-frame sum (agg_weighted_quantile's proven shape, r18)
    # instead of a second aggregate + broadcast join — one fewer
    # exchange and one fewer join, identical value (sum of the distinct-
    # value counts per flag IS the group row count).
    ranked = vc.select(
        "*",
        F.sum("c").over(w).alias("cum_end"),
        F.sum("c").over(Window.partitionBy("l_returnflag")).alias("n"),
    )

    fracs = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]
    aggs = [F.max("n").alias("n")]
    for name, p in fracs:
        pos = F.lit(p) * (F.col("n") - F.lit(1))
        for side, idx in (("lo", F.floor(pos)), ("hi", F.ceil(pos))):
            covers = (idx >= F.col("cum_end") - F.col("c")) & (
                idx < F.col("cum_end")
            )
            aggs.append(
                F.max(F.when(covers, F.col("l_extendedprice"))).alias(
                    f"{side}_{name}"
                )
            )
    picked = ranked.groupBy("l_returnflag").agg(*aggs)

    def interp(name: str, p: float):
        pos = F.lit(p) * (F.col("n") - F.lit(1))
        lo, hi = F.floor(pos), F.ceil(pos)
        lo_v, hi_v = F.col(f"lo_{name}"), F.col(f"hi_{name}")
        exact = (
            F.when(lo == hi, lo_v)
            .when(hi_v == lo_v, lo_v)
            .otherwise((hi - pos) * lo_v + (pos - lo) * hi_v)
        )
        return F.round(exact, 4)

    return picked.select(
        "l_returnflag",
        interp("p50", 0.5).alias("p50"),
        interp("p90", 0.9).alias("p90"),
        interp("p99", 0.99).alias("p99"),
        interp("p50", 0.5).alias("med"),
    )


# ------------------------------------------------- agg_weighted_quantile

# weighted-quantile targets in percent (integer so the threshold
# comparison 100*cum >= q*total stays in exact int64 arithmetic)
WQ_TARGETS = (50, 90)


@query(
    "agg_weighted_quantile",
    oracle=f"""
        WITH hist AS (
            SELECT l_returnflag, l_extendedprice,
                   CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS w
            FROM lineitem GROUP BY l_returnflag, l_extendedprice
        ),
        cum AS (
            SELECT l_returnflag, l_extendedprice, w,
                   CAST(sum(w) OVER (
                       PARTITION BY l_returnflag ORDER BY l_extendedprice
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_w,
                   CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS total_w
            FROM hist
        )
        SELECT l_returnflag,
               {", ".join(
                   f"min(CASE WHEN 100 * cum_w >= {q} * total_w "
                   f"THEN l_extendedprice END) AS wq{q}" for q in WQ_TARGETS
               )},
               max(total_w) AS total_weight
        FROM cum GROUP BY l_returnflag
    """,
)
def agg_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED quantiles — the price below which q% of shipped VOLUME
    (sum of l_quantity) falls, per return flag. agg_percentile weights
    every row equally; this is the measure-weighted form analytics
    actually wants for "median price by volume", and a training-data
    pipeline wants for "median doc length by token count". No Spark
    built-in computes it (percentile() has no weight argument at all
    until 3.5, and buffers groups in memory either way — see
    agg_percentile's OOM note).

    Same scale-safe histogram-then-window shape as agg_percentile
    (the r12 window-df lesson applied from the start): groupBy
    (flag, price) first collapses 100 TB of rows into per-distinct-value
    integer weights with map-side partials, and only that collapsed
    histogram flows into the cumulative window — a spillable streaming
    frame over distinct values, never raw rows. The quantile pick is the
    lower weighted quantile (smallest value whose cumulative weight
    reaches q% of total): with integer weights the comparison
    100*cum >= q*total is exact int64 in both engines, no float
    boundary to disagree on. Weights are floor(l_quantity) BY CONTRACT
    (explicit on both engines, per ADVICE r14): a bare bigint cast
    truncates toward zero in Spark but rounds half-away in DuckDB, so
    a fixture with fractional quantities would silently flip the hash
    gate; floor() first makes the two casts provably identical
    (l_quantity is integral in TPC-H, so the data answer is
    unchanged)."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.floor("l_quantity").cast("bigint").alias("q"),
    )
    hist = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum("q").alias("w")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # total_w as a whole-partition window, DELIBERATELY not a
    # groupBy+broadcast-join (the r12 window-df conversion does not
    # apply here): the window input is already the collapsed histogram,
    # the cum window above forces the per-flag sort/Exchange anyway, and
    # the unordered total just streams the sorted runs once more —
    # measured at sf1/sf3 the join variant is ~15-35% SLOWER (per-row
    # hash probe over the full cum output) with an identical result
    wall = Window.partitionBy("l_returnflag")
    cum = hist.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("w").over(wcum).alias("cum_w"),
        F.sum("w").over(wall).alias("total_w"),
    )
    return cum.groupBy("l_returnflag").agg(
        *[
            F.min(
                F.when(
                    100 * F.col("cum_w") >= q * F.col("total_w"),
                    F.col("l_extendedprice"),
                )
            ).alias(f"wq{q}")
            for q in WQ_TARGETS
        ],
        F.max("total_w").alias("total_weight"),
    )


@query(
    "agg_pivot",
    oracle="""
        SELECT o_orderpriority,
               count(*) FILTER (o_orderstatus = 'F') AS n_f,
               count(*) FILTER (o_orderstatus = 'O') AS n_o,
               count(*) FILTER (o_orderstatus = 'P') AS n_p,
               (CAST(CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (o_orderstatus = 'F'), 0) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS price_f,
               (CAST(CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (o_orderstatus = 'O'), 0) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS price_o,
               (CAST(CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (o_orderstatus = 'P'), 0) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS price_p
        FROM orders GROUP BY o_orderpriority
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide) with an EXPLICIT pivot-value list — without
    it Spark runs an extra distinct job to discover values, and the
    output schema becomes data-dependent (a correctness hazard and a
    scheduling barrier at scale). Conditional aggregation per cell, one
    shuffle total."""
    o = table(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("price"),
        )
    )
    # 0-fill AFTER the pivot: Spark fills combinations with no rows with
    # NULL post-aggregation, so a coalesce inside .agg() never fires —
    # the oracle's FILTER aggregates produce 0 for empty cells
    return out.select(
        "o_orderpriority",
        F.coalesce("F_n", F.lit(0)).alias("n_f"),
        F.coalesce("O_n", F.lit(0)).alias("n_o"),
        F.coalesce("P_n", F.lit(0)).alias("n_p"),
        F.coalesce("F_price", F.lit(0.0)).alias("price_f"),
        F.coalesce("O_price", F.lit(0.0)).alias("price_o"),
        F.coalesce("P_price", F.lit(0.0)).alias("price_p"),
    )


@query(
    "word_count",
    oracle="""
        SELECT word, count(*) AS n
        FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS word
              FROM documents)
        WHERE word <> ''
        GROUP BY word
    """,
)
def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical MapReduce job (Dean & Ghemawat §2.1) as 3 Catalyst
    operators: split (narrow) -> explode (narrow) -> hash agg (one
    shuffle, with map-side combine the reference never had)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# -------------------------------------------------------- sort / limit / topk


@query(
    "global_sort",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        LIMIT 100
    """,
)
def global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit (ref R4/R5: per-mapper sort + k-way merge,
    ExternalMergeSort.h:39-118). Catalyst turns orderBy().limit() into
    TakeOrderedAndProject: per-partition top-100 then a single merge —
    no full global sort is ever materialized, at any scale. Tie-broken
    on (l_orderkey, l_linenumber) so the limit is deterministic."""
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
    )


@query(
    "topk_per_group",
    oracle="""
        SELECT p_brand, p_partkey, p_retailprice
        FROM (
            SELECT p_brand, p_partkey, p_retailprice,
                   row_number() OVER (PARTITION BY p_brand
                                      ORDER BY p_retailprice DESC, p_partkey) AS rk
            FROM part
        ) WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group via ranked window; one hash-partitioned shuffle on
    the group key. Spark 3.5+ plans a WindowGroupLimit (per-partition
    early pruning) before the final window — top-k never materializes
    whole groups."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), "p_partkey")
    return (
        table(spark, sf_dir, "part")
        .select("p_brand", "p_partkey", "p_retailprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .drop("rk")
    )


# ------------------------------------------------------------------- set ops


@query(
    "set_ops",
    oracle="""
        WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
             b AS (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
        SELECT 'union' AS op, c_custkey FROM (SELECT c_custkey FROM a UNION SELECT c_custkey FROM b)
        UNION ALL
        SELECT 'intersect' AS op, c_custkey FROM (SELECT c_custkey FROM a INTERSECT SELECT c_custkey FROM b)
        UNION ALL
        SELECT 'except' AS op, c_custkey FROM (SELECT c_custkey FROM a EXCEPT SELECT c_custkey FROM b)
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct semantics, matching SQL).
    Catalyst rewrites intersect/except to semi/anti joins — set algebra
    becomes shuffle-parallel join work, no driver-side sets."""
    cust = table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") > 0).select("c_custkey")
    return (
        a.union(b).distinct().select(F.lit("union").alias("op"), "c_custkey")
        .unionAll(a.intersect(b).select(F.lit("intersect").alias("op"), "c_custkey"))
        .unionAll(a.subtract(b).select(F.lit("except").alias("op"), "c_custkey"))
    )


# ------------------------------------------------ flagship: min unique prefix


@query(
    "min_unique_prefix",
    oracle="""
        WITH lens AS (
            SELECT unnest(generate_series(1, (SELECT max(length(c_name)) FROM customer))) AS len
        )
        SELECT min(len) AS min_prefix_len
        FROM lens
        WHERE (SELECT count(DISTINCT substr(c_name, 1, len)) FROM customer)
              = (SELECT count(*) FROM customer)
    """,
)
def min_unique_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (ref R13): minimal L with all substr(c_name,1,L) distinct.

    Spark-first form: ONE job checks every candidate length at once —
    explode rows x lengths 1..maxlen, count duplicates per (L, prefix),
    take the smallest clean L. The reference runs one full MapReduce per
    candidate L (main.cpp:30-68 — 18 sequential jobs on this data); the
    iterative form on the RDD shim is compat.min_unique_prefix_mr, which
    runs one reference job per probed length and bisects the length.
    Same total scan work in the worst case, but no per-iteration job
    scheduling, and all lengths shuffle in parallel. substring clamps
    for short strings exactly like std::substr (main.cpp:35-38)."""
    cust = table(spark, sf_dir, "customer").select(F.col("c_name").alias("s"))
    max_len = cust.agg(F.max(F.length("s"))).collect()[0][0] or 0
    if max_len == 0:
        return spark.createDataFrame([(None,)], "min_prefix_len bigint")
    return (
        cust.select(F.explode(F.sequence(F.lit(1), F.lit(max_len))).alias("l"), "s")
        .groupBy("l", F.expr("substring(s, 1, l)").alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("l")
        .agg(F.max("n").alias("mx"))
        .filter(F.col("mx") == 1)
        .agg(F.min("l").cast("bigint").alias("min_prefix_len"))
    )


# Envelope derived from the sketch's PUBLISHED error, not calibrated on
# any particular generated dataset (ADVICE r6 / VERDICT r7 item 6):
# DataSketches HLL at the default lgConfigK=12 has relative standard
# deviation 1.04/sqrt(2^12) ~= 1.625% (Heule et al. 2013 / DataSketches
# docs). Accept within 4 sigma, like APPROX_ENVELOPE: the error is
# ~Gaussian for n past the sparse mode, so a LEGITIMATE estimate misses
# the envelope with P ~= 6.3e-5 per group — ~4e-4 per dataset at the 6
# groups here, robust to any regeneration seed/sf (the former 3-sigma 5%
# envelope risked ~1.6e-2 per dataset). Small groups never get near the
# relative bound: below the sparse->dense transition HLL is EXACT, and
# the 8-key absolute floor in `within` covers the transition region.
# tests/test_units.py::test_sketch_envelope_false_failure_bounds
# computes these tail bounds from the published rsd.
HLL_RSD = 1.04 / (2**12) ** 0.5
HLL_ENVELOPE = 4 * HLL_RSD


@query(
    "agg_sketch_hll",
    oracle="""
        SELECT c_mktsegment,
               count(DISTINCT c_custkey) AS exact_customers,
               TRUE AS hll_within_envelope
        FROM customer GROUP BY c_mktsegment
        UNION ALL
        SELECT '_ALL_', count(DISTINCT c_custkey), TRUE FROM customer
    """,
)
def agg_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL):
    build one sketch per segment, estimate per segment, then merge the
    per-segment sketches into a global estimate WITHOUT rescanning the
    data. Mergeability is the property that matters at 100 TB — sketches
    combine across partitions, days, or tables in O(sketch bytes), so
    incremental pipelines keep distinct counts without ever re-reading
    history.

    Sketch binaries are engine-specific, so the oracle checks the
    KEYS+BOUNDS contract: exact distinct counts (the yardstick) plus a
    boolean asserting each estimate — including the estimate from the
    MERGED sketch, which exercises hll_union_agg — lands within 4x the
    published rsd of exact (see HLL_ENVELOPE above); the oracle expects
    TRUE everywhere. As with `agg_approx`,
    the exact counts are the verification yardstick only — production
    serves the estimates and validates on samples."""
    c = table(spark, sf_dir, "customer")
    seg = c.groupBy("c_mktsegment").agg(
        F.hll_sketch_agg("c_custkey").alias("sk"),
        F.countDistinct("c_custkey").alias("exact_customers"),
    )
    def within(est, exact):
        # 8-key absolute floor: covers the sparse->dense transition
        # where relative error is ill-defined (sparse mode is exact)
        return F.abs(est - exact) <= F.greatest(exact * HLL_ENVELOPE, F.lit(8.0))

    per = seg.select(
        "c_mktsegment",
        "exact_customers",
        within(F.hll_sketch_estimate("sk"), F.col("exact_customers")).alias(
            "hll_within_envelope"
        ),
    )
    total_exact = c.agg(F.countDistinct("c_custkey").alias("exact_customers"))
    total = (
        seg.agg(F.hll_union_agg("sk").alias("u"))
        .crossJoin(F.broadcast(total_exact))
        .select(
            F.lit("_ALL_").alias("c_mktsegment"),
            "exact_customers",
            within(F.hll_sketch_estimate("u"), F.col("exact_customers")).alias(
                "hll_within_envelope"
            ),
        )
    )
    return per.unionAll(total)


@query(
    "grouping_sets",
    oracle="""
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n_orders,
               (CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_price,
               grouping(o_orderpriority) + 2 * grouping(o_orderstatus) AS gid
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube sugar over)
    with grouping() flags to disambiguate NULL-as-group from NULL-as-
    aggregate-marker — issued through spark.sql over a temp view, the
    SQL-string half of the declared API surface. One Expand + one
    shuffle for all three sets, same as rollup/cube."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n_orders,
               (CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0) AS sum_price,
               CAST(grouping(o_orderpriority) + 2 * grouping(o_orderstatus) AS BIGINT) AS gid
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """)


UNPIVOT_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@query(
    "unpivot_measures",
    oracle=f"""
        WITH long AS (
            {" UNION ALL ".join(
                f"SELECT l_returnflag, '{m}' AS measure, {m} AS v FROM lineitem"
                for m in UNPIVOT_MEASURES
            )}
        )
        SELECT l_returnflag, measure,
               count(*) AS n,
               round((CAST(CAST(sum(CAST(v AS DECIMAL(18,2))) * 100 AS BIGINT)
                            AS DOUBLE) / 100.0) / count(*), 6) AS avg_value
        FROM long GROUP BY l_returnflag, measure
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long UNPIVOT (melt) — agg_pivot's inverse: the four
    lineitem measures become (measure, value) rows, then one aggregate
    per (returnflag, measure). The long layout is how a metrics store
    or feature-stats job wants its input, and computing all per-measure
    stats in ONE pass beats four separate aggregates.

    Spark plans df.unpivot as a single Expand over one scan — the
    oracle's 4× UNION ALL re-scans the table per measure; at 100 TB the
    Expand's 4× row amplification is collapsed immediately by map-side
    partial aggregation (groups × measures reach the shuffle, not
    rows × measures), so the cost stays one scan + one tiny exchange."""
    li = table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        "l_returnflag", list(UNPIVOT_MEASURES), "measure", "v"
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(dsum("v") / F.count(F.lit(1)), 6).alias("avg_value"),
    )


PROFILE_COLS = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderdate")


@query(
    "profile_table",
    oracle=f"""
        {" UNION ALL ".join(
            f'''SELECT '{c}' AS col,
                   count(*) AS n_rows,
                   count({c}) AS n_nonnull,
                   count(DISTINCT {c}) AS n_distinct,
                   CAST(min({c}) AS VARCHAR) AS min_str,
                   CAST(max({c}) AS VARCHAR) AS max_str
            FROM orders'''
            for c in PROFILE_COLS
        )}
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of the orders table: per column,
    row/non-null/distinct counts and min/max (stringified so one schema
    carries every type) — the statistics a query optimizer, data-quality
    monitor, or ingestion gate reads first.

    One branch per column, each a SINGLE-distinct aggregate (r18):
    k count-distincts in one multi-aggregate force Catalyst's Expand,
    which multiplies every input row (k+1)-fold BEFORE the shuffle —
    the one shuffle carried 6x the table (measured: the whole 3.9s
    query was that stage at sf0.1). A per-column branch plans the
    classic two-phase distinct rewrite instead (partial groupBy(col),
    so the shuffle carries each column's DISTINCT values with map-side
    combining), and parquet prunes each branch's scan to its one
    column — k single-column scans read the same total bytes as one
    k-column scan, while the shuffle shrinks from 6x|rows| padded-wide
    rows to sum(|distinct values|). The branches are independent
    stages, so they also overlap (guide §2.3 aggregate-before-shuffle,
    §2.6). Values are identical aggregates — the unioned long layout
    matches the oracle's UNION ALL row-for-row."""
    o = table(spark, sf_dir, "orders")
    branches = []
    for c in PROFILE_COLS:
        branches.append(
            o.select(c)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count(c).alias("n_nonnull"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(c).cast("string").alias("min_str"),
                F.max(c).cast("string").alias("max_str"),
            )
            .select(
                F.lit(c).alias("col"),
                "n_rows",
                "n_nonnull",
                "n_distinct",
                "min_str",
                "max_str",
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out


HIST_N_BUCKETS = 10


@query(
    "agg_histogram",
    oracle=f"""
        WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
                   FROM lineitem),
        assigned AS (
            SELECT CASE WHEN b.hi = b.lo THEN 0
                        ELSE least(CAST(floor((l_extendedprice - b.lo) * {HIST_N_BUCKETS}
                                               / (b.hi - b.lo)) AS BIGINT),
                                   {HIST_N_BUCKETS - 1}) END AS bucket,
                   b.lo, b.hi
            FROM lineitem, b
        )
        SELECT bucket,
               round(lo + bucket * (hi - lo) / {HIST_N_BUCKETS}, 4) AS bucket_lo,
               round(lo + (bucket + 1) * (hi - lo) / {HIST_N_BUCKETS}, 4) AS bucket_hi,
               count(*) AS n
        FROM assigned GROUP BY bucket, lo, hi
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of l_extendedprice in {HIST_N_BUCKETS}
    equal buckets over the observed [min, max] — the distribution
    profile behind optimizer statistics and drift monitors.

    Two linear jobs: a 2-value global (min, max) aggregate, then bucket
    assignment as a narrow expression and one groupBy(bucket) whose
    cardinality is the bucket count. The range reaches the second pass
    as a 1-row broadcast-joined relation (never a driver literal), so
    the whole thing stays one declarative plan; bucket edges are
    recomputed from (lo, hi, index) identically in both engines, and
    the max value clamps into the last bucket (the standard half-open
    ranges with a closed final edge)."""
    li = table(spark, sf_dir, "lineitem").select("l_extendedprice")
    b = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    # zero-range guard: a constant column makes (hi - lo) = 0, where the
    # unguarded division is NULL in Spark but an error/NaN in other
    # engines — everything lands in bucket 0 by definition instead.
    assigned = li.crossJoin(F.broadcast(b)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("bigint"))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("l_extendedprice") - F.col("lo"))
                    * HIST_N_BUCKETS
                    / (F.col("hi") - F.col("lo"))
                ).cast("bigint"),
                F.lit(HIST_N_BUCKETS - 1),
            )
        )
        .alias("bucket"),
        "lo",
        "hi",
    )
    return assigned.groupBy("bucket", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        "bucket",
        F.round(
            F.col("lo") + F.col("bucket") * (F.col("hi") - F.col("lo")) / HIST_N_BUCKETS, 4
        ).alias("bucket_lo"),
        F.round(
            F.col("lo") + (F.col("bucket") + 1) * (F.col("hi") - F.col("lo")) / HIST_N_BUCKETS,
            4,
        ).alias("bucket_hi"),
        "n",
    )


PCTL_ACCURACY = 10000  # GK sketch accuracy: rank error <= n / accuracy
# Estimates must land within 1% of the exact value for groups with
# >= PCTL_SMALL_N sampled rows. False-failure probability: the sketch's
# rank error is a deterministic <= n/accuracy ranks (not probabilistic),
# so a 1% VALUE envelope only fails when the value distribution has a
# >1% relative jump within n/accuracy ranks of the target quantile —
# effectively impossible for dense numeric columns at n >= 1000, but
# plausible for tiny groups where approx returns a data value and exact
# interpolates between sparse values; those get the wider envelope.
PCTL_ENVELOPE = 0.01
PCTL_SMALL_N = 1000
PCTL_SMALL_ENVELOPE = 0.05
PCTL_SAMPLE_PCT = 25  # validate on a 25% md5 row sample


@query(
    "agg_approx_percentile",
    oracle=f"""
        SELECT l_returnflag, count(*) AS n,
               TRUE AS p50_within_1pct, TRUE AS p99_within_1pct
        FROM lineitem
        WHERE CAST(('0x' || substr(md5('apctl:' || CAST(l_orderkey AS VARCHAR)
                                   || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8))
                   AS BIGINT) % 100 < {PCTL_SAMPLE_PCT}
        GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles per group (`approx_percentile`, a
    KLL/GK-style mergeable quantile sketch) — the scale path when the
    exact buffered form (`agg_percentile`) is too expensive: sketches
    merge associatively across partitions, so state per group is
    O(sketch), not O(rows).

    Sketch estimates are engine-specific, so the oracle checks the
    KEYS+BOUNDS contract: group keys, row counts, and booleans
    asserting the approximate p50/p99 land within the envelope of the
    EXACT percentiles computed in the same aggregation; the oracle
    expects TRUE. The same envelope is unit-tested at
    tests/test_units.py::test_approx_percentile_brackets_exact.

    Round 7 (VERDICT r6 item 3): both sketch and exact yardstick run on
    a deterministic 25% md5 ROW sample (keyed on the
    l_orderkey:l_linenumber row identity) — the exact percentile, which
    buffers every value in the group, now buffers a quarter of them,
    and the sketch-accuracy contract is unchanged because both sides
    see the same sample. Production ships the sketch over the full
    corpus; this is the sampled validation job the docstring always
    promised. Groups whose sample is < {PCTL_SMALL_N} rows use a wider
    {int(PCTL_SMALL_ENVELOPE * 100)}% envelope (see constants above)."""
    row_key = F.concat_ws(
        ":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    li = table(spark, sf_dir, "lineitem").where(
        md5_bucket("apctl:", row_key) < PCTL_SAMPLE_PCT
    )
    agged = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.99)), PCTL_ACCURACY
        ).alias("ap"),
        F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.99))).alias("ex"),
        F.count(F.lit(1)).alias("n"),
    )

    def within(i: int):
        a, e = F.col("ap")[i], F.col("ex")[i]
        env = F.when(
            F.col("n") < PCTL_SMALL_N, F.lit(PCTL_SMALL_ENVELOPE)
        ).otherwise(F.lit(PCTL_ENVELOPE))
        return F.abs(a - e) <= F.abs(e) * env

    return agged.select(
        "l_returnflag",
        "n",
        within(0).alias("p50_within_1pct"),
        within(1).alias("p99_within_1pct"),
    )


@query(
    "agg_corr_exact",
    oracle="""
        WITH s AS (
            SELECT l_returnflag,
                   count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                            * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               -- correlation is UNDEFINED for zero variance (n = 1, or
               -- an all-tied group): explicit NULL in both engines
               -- (DuckDB's x/0.0 happens to return NULL; Spark under
               -- ANSI raises — the CASE makes the contract explicit
               -- rather than leaning on either engine's default)
               CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
                    THEN NULL
                    ELSE round((n * sxy - sx * sy)
                               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               END AS corr_qty_price
        FROM s
    """,
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from EXACT decimal accumulators
    (n, Σx, Σy, Σx², Σy², Σxy) — the same discipline as ts_anomaly's
    variance: built-in `corr()` merges float partials in partition
    order and cannot be hash-gated; six exact sums can, and make the
    statistic reproducible across engines AND partitionings. All six
    accumulators ride one map-side-partial aggregate — same shuffle
    bytes as a plain sum, 100 TB-safe by construction.

    The accumulators keep the DIRECT decimal->double cast rather than
    dsum's int64-units route: the squared sums (scale 4, magnitude
    ~6e16 at sf1) overflow int64 units, and the 1-ulp cast drift the
    units route exists to kill is harmless here — every accumulator
    feeds the correlation RATIO, where a 1-ulp input perturbation moves
    the result ~1e-16, then round(6) absorbs it (verified bit-equal in
    the sf1 sweep, CORRECTNESS_SF1.json)."""
    li = table(spark, sf_dir, "lineitem")
    dq = F.col("l_quantity").cast("decimal(18,2)")
    dp = F.col("l_extendedprice").cast("decimal(18,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dq).cast("double").alias("sx"),
        F.sum(dp).cast("double").alias("sy"),
        F.sum(dq * dq).cast("double").alias("sxx"),
        F.sum(dp * dp).cast("double").alias("syy"),
        F.sum(dq * dp).cast("double").alias("sxy"),
    )
    var2 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    corr = F.when(
        var2 == 0, F.lit(None).cast("double")
    ).otherwise(
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(var2), 6
        )
    )
    return s.select("l_returnflag", "n", corr.alias("corr_qty_price"))


# ------------------------------------------------------------ agg_sketch_cms

# Count-min sketch geometry: depth x width counters, total size fixed at
# D*W cells no matter how large the corpus. eps ~ e/W, delta ~ e^-D.
CMS_DEPTH = 4
CMS_WIDTH = 256
_CMS_TOK = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"


def _cms_bucket_spark(term, depth: int):
    """Counter column for `term` in row `depth` — md5-derived so both
    engines compute the identical bucket (same idiom as decontaminate's
    gram keys; a shared-hash collision perturbs both sides equally)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(str(depth)), term)), 1, 15), 16, 10
    ).cast("bigint")
    return (h % CMS_WIDTH).cast("int")


def _cms_bucket_sql(term: str, depth: int) -> str:
    return (
        f"CAST(CAST(('0x' || substr(md5('{depth}' || ':' || {term}), 1, 15)) AS BIGINT)"
        f" % {CMS_WIDTH} AS INT)"
    )


@query(
    "agg_sketch_cms",
    oracle=f"""
        WITH tf AS (
            SELECT term, count(*) AS ct
            FROM (SELECT unnest({_CMS_TOK}) AS term FROM documents)
            GROUP BY term
        ),
        cells AS (
            SELECT d, bucket, CAST(sum(ct) AS BIGINT) AS cell FROM (
                {" UNION ALL ".join(f"SELECT {d} AS d, {_cms_bucket_sql('term', d)} AS bucket, ct FROM tf" for d in range(CMS_DEPTH))}
            ) GROUP BY d, bucket
        ),
        probes AS (
            SELECT DISTINCT term, ct FROM (
                (SELECT term, ct FROM tf ORDER BY ct DESC, term LIMIT 5)
                UNION ALL
                (SELECT term, ct FROM tf ORDER BY ct ASC, term LIMIT 5)
            )
        ),
        est AS (
            SELECT p.term, p.ct, min(c.cell) AS cms_est
            FROM (
                {" UNION ALL ".join(f"SELECT term, ct, {d} AS d, {_cms_bucket_sql('term', d)} AS bucket FROM probes" for d in range(CMS_DEPTH))}
            ) p JOIN cells c USING (d, bucket)
            GROUP BY p.term, p.ct
        )
        SELECT term, ct AS exact_ct, cms_est,
               cms_est - ct AS overcount,
               cms_est >= ct AS never_undercounts
        FROM est
    """,
)
def agg_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over corpus term frequencies: a {CMS_DEPTH}x{CMS_WIDTH}
    counter grid (Cormode & Muthukrishnan 2005) answering point
    frequency queries with one-sided error (est >= exact, always —
    asserted per probe row). Probes: the 5 hottest and 5 coldest terms
    (deterministic ties on term), so the output exhibits both the
    heavy-hitter regime (relative error -> 0) and the small-count
    regime where collisions dominate.

    Why a CMS at 100 TB: the sketch is {CMS_DEPTH}x{CMS_WIDTH} counters — a
    fixed-size, MERGEABLE summary (cells add across shards, days, or
    streams), so frequency monitoring never rescans history; the
    companion `agg_sketch_hll` covers distinct counts, this covers
    point/heavy-hitter frequencies. Unlike HLL's engine-specific
    binaries, every quantity here is an exact integer over md5-derived
    buckets, so the whole sketch — cells, estimates, error — is
    bit-reproducible cross-engine and the oracle hash-checks it.

    Plan shape: ONE explode+groupBy produces the vocabulary-bounded tf
    table (map-side partials absorb the token stream); the sketch build
    fans tf out x{CMS_DEPTH} (vocab-sized, not corpus-sized) into the
    {CMS_DEPTH * CMS_WIDTH}-cell grid; probe selection is two
    TakeOrderedAndProject top-5 passes over tf (no SinglePartition
    window); the estimate joins
    {2 * 5 * CMS_DEPTH} probe-cells against the tiny grid. The exact
    counts ride along as the verification yardstick (same contract as
    agg_sketch_hll) — production would serve cells only."""
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    depth_cols = F.array(
        *[
            F.struct(F.lit(d).alias("d"), _cms_bucket_spark(F.col("term"), d).alias("bucket"))
            for d in range(CMS_DEPTH)
        ]
    )
    cells = (
        tf.select(F.explode(depth_cols).alias("db"), "ct")
        .groupBy(F.col("db.d").alias("d"), F.col("db.bucket").alias("bucket"))
        .agg(F.sum("ct").alias("cell"))
    )

    hot = tf.orderBy(F.desc("ct"), F.asc("term")).limit(5)
    cold = tf.orderBy(F.asc("ct"), F.asc("term")).limit(5)
    probes = hot.unionAll(cold).dropDuplicates(["term"])
    probe_cells = probes.select(
        "term",
        "ct",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket_spark(F.col("term"), d).alias("bucket"),
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("db"),
    ).select("term", "ct", F.col("db.d").alias("d"), F.col("db.bucket").alias("bucket"))
    est = (
        probe_cells.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("term", "ct")
        .agg(F.min("cell").alias("cms_est"))
    )
    return est.select(
        "term",
        F.col("ct").alias("exact_ct"),
        "cms_est",
        (F.col("cms_est") - F.col("ct")).alias("overcount"),
        (F.col("cms_est") >= F.col("ct")).alias("never_undercounts"),
    )


# KMV / theta sketch: bottom-KMV_K 60-bit hashes per set. 2^60 is the
# hash domain; (K-1) * DOMAIN / theta is the classic KMV estimator
# (Bar-Yossef et al., RANDOM'02; Dasgupta et al.'s theta sketches add
# the set algebra used below).
KMV_K = 256
KMV_DOMAIN = 1 << 60
_KMV_PAIR = ("1-URGENT", "5-LOW")


def kmv_bottom_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV sketch's bottom-k stage (pre-checkpoint): distinct
    (priority, 60-bit md5 hash) pairs, then the k smallest hashes per
    priority via a rank window. Shared by `agg_sketch_kmv` and the plan
    test that pins the PARTIAL WindowGroupLimit (the map-side eviction
    that makes the sketch mergeable) — the test must assert on the
    SHIPPED fragment, not a copy that could go stale."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kmv:"), F.col("o_custkey").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    dh = orders.select(F.col("o_orderpriority").alias("pr"), h.alias("h")).distinct()
    w = Window.partitionBy("pr").orderBy("h")
    return dh.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= KMV_K)


@query(
    "agg_sketch_kmv",
    oracle=f"""
        WITH h AS (
            SELECT DISTINCT o_orderpriority AS pr,
                   CAST(('0x' || substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 15))
                        AS BIGINT) AS h
            FROM orders
        ),
        rk AS (
            SELECT pr, h, row_number() OVER (PARTITION BY pr ORDER BY h) AS rk
            FROM h
        ),
        bot AS (SELECT pr, h, rk FROM rk WHERE rk <= {KMV_K}),
        per AS (
            SELECT pr, count(*) AS n_in,
                   max(CASE WHEN rk = {KMV_K} THEN h END) AS theta
            FROM bot GROUP BY pr
        ),
        tmin AS (
            SELECT min(coalesce(theta, {KMV_DOMAIN})) AS theta_min
            FROM per WHERE pr IN ('{_KMV_PAIR[0]}', '{_KMV_PAIR[1]}')
        ),
        pairbot AS (
            SELECT b.pr, b.h FROM bot b, tmin
            WHERE b.pr IN ('{_KMV_PAIR[0]}', '{_KMV_PAIR[1]}') AND b.h < tmin.theta_min
        )
        SELECT pr AS set_label, CAST(n_in AS BIGINT) AS n_in_sketch, theta,
               CASE WHEN n_in < {KMV_K} THEN n_in * 1.0
                    ELSE {KMV_K - 1} * 1.0 * {KMV_DOMAIN} / theta END AS est_distinct
        FROM per
        UNION ALL
        SELECT 'union:{_KMV_PAIR[0]}|{_KMV_PAIR[1]}',
               CAST(count(DISTINCT h) AS BIGINT), (SELECT theta_min FROM tmin),
               count(DISTINCT h) * 1.0 * {KMV_DOMAIN} / (SELECT theta_min FROM tmin)
        FROM pairbot
        UNION ALL
        SELECT 'intersect:{_KMV_PAIR[0]}|{_KMV_PAIR[1]}',
               CAST(count(*) AS BIGINT), (SELECT theta_min FROM tmin),
               count(*) * 1.0 * {KMV_DOMAIN} / (SELECT theta_min FROM tmin)
        FROM (SELECT h FROM pairbot GROUP BY h HAVING count(DISTINCT pr) = 2)
    """,
)
def agg_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta sketch with SET ALGEBRA — the capability HLL lacks:
    per order priority, the bottom-{KMV_K} 60-bit md5 hashes of its
    distinct customers give an estimated distinct count ((K-1)*2^60 /
    theta, exact below K); and because bottom-k sketches compose, the
    UNION and INTERSECTION of two customer sets are estimated from the
    two sketches alone — count the (distinct) surviving hashes below
    theta_min = min(theta_a, theta_b) and rescale. When neither sketch
    is full, theta_min is the whole domain and every estimate
    degenerates to the exact count — one formula covers both regimes.

    Scale shape: the only data-sized shuffle is the distinct on
    (priority, hash); the bottom-k window plans WindowGroupLimit
    (plan-asserted), so each map task ships AT MOST K rows per
    priority into the 5-partition window — the map-side partial
    eviction that makes KMV mergeable is exactly Spark's partial
    top-k. Everything after is K-bounded. Deterministic md5 hashing
    (not a seeded RNG) keeps both engines' sketches — and therefore
    the estimates' full float bits — identical, so the driver
    hash-gates a SKETCH, not just its contract. The union/intersect
    labels pin the theta-sketch composition law; the k=256 relative
    error (~1/sqrt(K-2) ≈ 6%) is asserted against exact counts in
    tests/test_units.py."""
    # ONE scan + ONE bottom-k pass feeds all seven output rows: the
    # sketch is <= 5*K rows, so materialize it (lineage cut) rather
    # than let the singles/tmin/union/intersect subtrees each re-derive
    # the distinct+window over the full table (measured: 7 scans of
    # orders without this)
    bot = kmv_bottom_k(spark, sf_dir).localCheckpoint()
    per = bot.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n_in"),
        F.max(F.when(F.col("rk") == KMV_K, F.col("h"))).alias("theta"),
    )
    singles = per.select(
        F.col("pr").alias("set_label"),
        F.col("n_in").cast("bigint").alias("n_in_sketch"),
        "theta",
        F.when(F.col("n_in") < KMV_K, F.col("n_in") * 1.0)
        .otherwise(F.lit(float(KMV_K - 1)) * KMV_DOMAIN / F.col("theta"))
        .alias("est_distinct"),
    )
    a, b = _KMV_PAIR
    tmin = (
        per.filter(F.col("pr").isin(a, b))
        .agg(F.min(F.coalesce("theta", F.lit(KMV_DOMAIN))).alias("theta_min"))
    )
    pairbot = (
        bot.filter(F.col("pr").isin(a, b))
        .crossJoin(F.broadcast(tmin))
        .filter(F.col("h") < F.col("theta_min"))
    )
    # global aggregates (not groupBy theta_min): ALWAYS one row each,
    # so an empty pair/intersection yields (0, theta, 0.0) exactly like
    # the oracle's aggregate-without-GROUP BY, never a missing row
    union_row = (
        pairbot.agg(F.countDistinct("h").alias("cnt"))
        .crossJoin(F.broadcast(tmin))
        .select(
            F.lit(f"union:{a}|{b}").alias("set_label"),
            F.col("cnt").cast("bigint").alias("n_in_sketch"),
            F.col("theta_min").alias("theta"),
            (F.col("cnt") * 1.0 * KMV_DOMAIN / F.col("theta_min")).alias(
                "est_distinct"
            ),
        )
    )
    inter_row = (
        pairbot.groupBy("h")
        .agg(F.countDistinct("pr").alias("np"))
        .filter(F.col("np") == 2)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(tmin))
        .select(
            F.lit(f"intersect:{a}|{b}").alias("set_label"),
            F.col("cnt").cast("bigint").alias("n_in_sketch"),
            F.col("theta_min").alias("theta"),
            (F.col("cnt") * 1.0 * KMV_DOMAIN / F.col("theta_min")).alias(
                "est_distinct"
            ),
        )
    )
    return singles.unionAll(union_row).unionAll(inter_row)
