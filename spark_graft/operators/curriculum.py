"""Training-schedule operators: curriculum bucketing and preference-pair
mining — the operators that turn a scored corpus into a training PLAN.

Both are exact-integer contracts over the same staged token projection
the text family uses, shaped for 100 TB: global quantile thresholds come
from a histogram-then-window pass over DISTINCT values (never raw rows),
and per-stratum rank selections plan as map-side WindowGroupLimit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_graft.functions import md5_bucket_raw, tokens
from spark_graft.operators.text import _TOK, DIVERSITY_SCALE
from spark_graft.registry import query
from spark_graft.sources import table

# ------------------------------------------------------ pipeline_curriculum

CURRICULUM_STAGES = 4  # quartile stages: short -> long


@query(
    "pipeline_curriculum",
    oracle=f"""
        WITH lens AS (SELECT doc_id, coalesce(len({_TOK}), 0) AS n_tokens
                      FROM documents),
        hist AS (SELECT n_tokens, count(*) AS c FROM lens GROUP BY n_tokens),
        cum AS (
            SELECT n_tokens,
                   CAST(sum(c) OVER (ORDER BY n_tokens
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_c,
                   CAST(sum(c) OVER () AS BIGINT) AS n_total
            FROM hist
        ),
        stages AS (
            SELECT n_tokens,
                   ({CURRICULUM_STAGES} * cum_c + n_total - 1) // n_total AS stage
            FROM cum
        )
        SELECT l.doc_id, l.n_tokens, s.stage
        FROM lens l JOIN stages s USING (n_tokens)
    """,
)
def pipeline_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-based curriculum bucketing (the classic short-to-long
    training schedule): every document is assigned a stage 1..4 by which
    QUARTILE of the corpus length distribution it falls in, so a
    training run can feed stage 1 first and anneal upward. stage(v) =
    ceil(STAGES * cum(v) / n_total) where cum(v) = docs with n_tokens
    <= v — exact int64 arithmetic ((S*cum + n - 1) div n), no float
    quantile to disagree on, and the stage function is monotone in
    length by construction.

    Scale shape (the r12 window-df lesson, same as
    agg_weighted_quantile): the cumulative window runs over the
    DISTINCT-length histogram — cardinality bounded by max document
    length, not corpus size — and the stage map joins back to documents
    as a broadcast-sized dimension. The corpus-scale work is one
    groupBy(n_tokens) with map-side partials plus a narrow join; raw
    rows never enter a window. (The single-partition window over the
    histogram is the bounded-cardinality exception, same justification
    as mixture_weights.)

    NULL text counts as ZERO tokens (r18 NULL-hardening): without the
    coalesce a NULL-text doc yields n_tokens = NULL, which silently
    DROPS from both engines' equi-joins while also shifting every stage
    boundary differently (Spark windows order NULLS FIRST, DuckDB NULLS
    LAST, so the NULL histogram row's count lands on opposite ends of
    the cumulative sum). No-content docs belong in the shortest-length
    stage with the empty-text docs — same class, stage 1."""
    docs = table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id",
        # coalesce the ARRAY, not size()'s result: size(NULL) is -1
        # under spark.sql.legacy.sizeOfNull, so the array-level
        # coalesce is the config-independent zero
        F.size(
            F.coalesce(tokens("text"), F.array().cast("array<string>"))
        ).alias("n_tokens"),
    )
    hist = lens.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    stages = hist.select(
        "n_tokens",
        F.sum("c").over(wcum).alias("cum_c"),
        F.sum("c").over(wall).alias("n_total"),
    ).select(
        "n_tokens",
        F.expr(
            f"({CURRICULUM_STAGES} * cum_c + n_total - 1) div n_total"
        ).alias("stage"),
    )
    return lens.join(F.broadcast(stages), "n_tokens").select(
        "doc_id", "n_tokens", "stage"
    )


# ------------------------------------------------ pipeline_preference_pairs

PREF_PAIRS_PER_SOURCE = 5
# chosen/rejected signal: the Simpson index (text_diversity's integer
# contract — DIVERSITY_SCALE imported so the two queries can never
# silently diverge) — most-diverse docs are "chosen", most-repetitive
# "rejected"
_SIMPSON_SQL = f"""
        SELECT doc_id, source,
               (CAST(sum(c * c) AS BIGINT) * {DIVERSITY_SCALE})
               // (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)) AS simpson_fx
        FROM (
            SELECT doc_id, source, count(*) AS c
            FROM (SELECT doc_id, source, unnest({_TOK}) AS term FROM documents)
            GROUP BY doc_id, source, term
        )
        GROUP BY doc_id, source
"""


# shared by the pipeline_preference_pairs oracle AND the
# preference_rating oracle's pairs CTE (the two can never drift)
_PREF_PAIRS_SQL = f"""
        WITH scored AS ({_SIMPSON_SQL}),
        best AS (
            SELECT source, doc_id, simpson_fx,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY simpson_fx, doc_id) AS rk
            FROM scored
        ),
        worst AS (
            SELECT source, doc_id, simpson_fx,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY simpson_fx DESC, doc_id DESC) AS rk
            FROM scored
        )
        SELECT b.source, b.rk AS pair_rank,
               b.doc_id AS chosen_id, w.doc_id AS rejected_id,
               w.simpson_fx - b.simpson_fx AS gap_fx
        FROM best b JOIN worst w ON b.source = w.source AND b.rk = w.rk
        WHERE b.rk <= {PREF_PAIRS_PER_SOURCE}
          AND w.simpson_fx > b.simpson_fx
"""


@query("pipeline_preference_pairs", oracle=_PREF_PAIRS_SQL)
def pipeline_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining — construct (chosen, rejected) document
    pairs per source for preference-model / DPO-style training data:
    pair the K most-diverse documents (lowest Simpson index, see
    text_diversity) with the K most-repetitive ones (highest), matched
    by rank, keeping only pairs with a strictly positive quality gap.
    The signal is text_diversity's integer simpson_fx, so the pairing —
    and the gap — is exact int64 end to end; ranks tie-break on doc_id
    (ascending on the chosen leg, descending on the rejected leg, so a
    tied middle never pairs a document with itself at odds of a
    zero gap — the strict gap_fx > 0 filter drops those outright).

    Scale shape: both rank selections are row_number <= K filters, which
    plan as map-side WindowGroupLimit per source (each input partition
    ships at most K rows per stratum, the sample_reservoir contract);
    the pair join is K rows per source on both sides. The corpus-scale
    work is the (doc_id, term) aggregation, shared shape with
    text_diversity/text_repetition."""
    docs = table(spark, sf_dir, "documents")
    per_tok = (
        docs.select("doc_id", "source", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = per_tok.groupBy("doc_id", "source").agg(
        F.expr(f"(sum(c * c) * {DIVERSITY_SCALE}) div (sum(c) * sum(c))").alias(
            "simpson_fx"
        )
    )
    w_best = Window.partitionBy("source").orderBy("simpson_fx", "doc_id")
    w_worst = Window.partitionBy("source").orderBy(
        F.desc("simpson_fx"), F.desc("doc_id")
    )
    best = scored.select(
        "source",
        F.col("doc_id").alias("chosen_id"),
        F.col("simpson_fx").alias("s_best"),
        F.row_number().over(w_best).alias("pair_rank"),
    ).filter(F.col("pair_rank") <= PREF_PAIRS_PER_SOURCE)
    worst = scored.select(
        "source",
        F.col("doc_id").alias("rejected_id"),
        F.col("simpson_fx").alias("s_worst"),
        F.row_number().over(w_worst).alias("pair_rank"),
    ).filter(F.col("pair_rank") <= PREF_PAIRS_PER_SOURCE)
    return (
        best.join(worst, ["source", "pair_rank"])
        .filter(F.col("s_worst") > F.col("s_best"))
        .select(
            "source",
            "pair_rank",
            "chosen_id",
            "rejected_id",
            (F.col("s_worst") - F.col("s_best")).alias("gap_fx"),
        )
    )


# ----------------------------------------------------- preference_rating

BT_SCALE = 1_000_000  # fixed-point scale for Bradley-Terry ratings
BT_ROUNDS = 6  # fixed minorization rounds (determinism over convergence)
BT_NOISE_MOD = 5  # 1 in 5 judgments arrives flipped ("annotator noise")

# The judgment stream the default rating fit consumes: the FULL KxK
# cross of each source's best-leg x worst-leg docs (not the miner's
# rank-MATCHED pairs — those give every doc exactly one game, which
# collapses Bradley-Terry to the sign of won/lost), with a
# deterministic md5 coin flipping 1-in-BT_NOISE_MOD judgments — the
# contradictory-annotator regime the rating fit exists to aggregate.
# best/worst CTE text is duplicated from _PREF_PAIRS_SQL deliberately:
# extracting a shared fragment would edit the DECLARED
# pipeline_preference_pairs oracle, re-entering it into a driver window
# r18 has no budget for; unify when preference_rating is declared.
_PREF_JUDGMENTS_SQL = f"""
        WITH scored AS ({_SIMPSON_SQL}),
        best AS (
            SELECT source, doc_id, simpson_fx,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY simpson_fx, doc_id) AS rk
            FROM scored
        ),
        worst AS (
            SELECT source, doc_id, simpson_fx,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY simpson_fx DESC, doc_id DESC) AS rk
            FROM scored
        ),
        cross_j AS (
            SELECT b.doc_id AS c0, w.doc_id AS r0
            FROM best b JOIN worst w ON b.source = w.source
            WHERE b.rk <= {PREF_PAIRS_PER_SOURCE}
              AND w.rk <= {PREF_PAIRS_PER_SOURCE}
              AND w.simpson_fx > b.simpson_fx
        )
        SELECT CASE WHEN flip THEN r0 ELSE c0 END AS chosen_id,
               CASE WHEN flip THEN c0 ELSE r0 END AS rejected_id
        FROM (
            SELECT c0, r0,
                   CAST(('0x' || substr(md5('prefnoise:'
                            || CAST(c0 AS VARCHAR) || ':'
                            || CAST(r0 AS VARCHAR)), 1, 8)) AS BIGINT)
                       % {BT_NOISE_MOD} = 0 AS flip
            FROM cross_j
        )
"""


def preference_judgments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(chosen_id, rejected_id), one row per judgment — the Spark twin
    of `_PREF_JUDGMENTS_SQL` (see its note on the deliberate best/worst
    duplication from pipeline_preference_pairs). Each source
    contributes up to K^2 cross judgments of its K most-diverse docs
    over its K most-repetitive, so every rated item holds up to K
    games, and the md5 noise coin flips ~20% of them — contradictions
    included by construction."""
    docs = table(spark, sf_dir, "documents")
    per_tok = (
        docs.select("doc_id", "source", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = per_tok.groupBy("doc_id", "source").agg(
        F.expr(f"(sum(c * c) * {DIVERSITY_SCALE}) div (sum(c) * sum(c))").alias(
            "simpson_fx"
        )
    )
    w_best = Window.partitionBy("source").orderBy("simpson_fx", "doc_id")
    w_worst = Window.partitionBy("source").orderBy(
        F.desc("simpson_fx"), F.desc("doc_id")
    )
    best = scored.select(
        "source",
        F.col("doc_id").alias("c0"),
        F.col("simpson_fx").alias("s_best"),
        F.row_number().over(w_best).alias("rk_b"),
    ).filter(F.col("rk_b") <= PREF_PAIRS_PER_SOURCE)
    worst = scored.select(
        "source",
        F.col("doc_id").alias("r0"),
        F.col("simpson_fx").alias("s_worst"),
        F.row_number().over(w_worst).alias("rk_w"),
    ).filter(F.col("rk_w") <= PREF_PAIRS_PER_SOURCE)
    crossed = (
        best.join(worst, "source")
        .filter(F.col("s_worst") > F.col("s_best"))
        .select("c0", "r0")
    )
    flip = (
        md5_bucket_raw(
            "prefnoise:",
            F.concat(
                F.col("c0").cast("string"),
                F.lit(":"),
                F.col("r0").cast("string"),
            ),
        )
        % BT_NOISE_MOD
        == 0
    )
    return crossed.select(
        F.when(flip, F.col("r0")).otherwise(F.col("c0")).alias("chosen_id"),
        F.when(flip, F.col("c0")).otherwise(F.col("r0")).alias("rejected_id"),
    )


def preference_rating_frame(pairs: DataFrame, rounds: int = BT_ROUNDS) -> DataFrame:
    """Bradley-Terry item ratings from noisy pairwise judgments — the
    missing half of the DPO/reward-data story: `pipeline_preference_pairs`
    MINES (chosen, rejected) pairs; this AGGREGATES many such judgments
    (possibly contradictory, from many annotators/heuristics) into one
    scalar rating per item, so downstream training can rank or margin-
    weight items globally instead of per-pair.

    `pairs` carries one row per judgment (chosen_id, rejected_id).
    Returns (doc_id, n_wins, n_games, rating_fx): rating_fx is the
    Bradley-Terry strength, fixed-point at BT_SCALE, fit by `rounds`
    minorization (MM / Zermelo) updates
        p_i  <-  W_i / sum_j n_ij / (p_i + p_j)
    with a global renormalization to mean BT_SCALE each round. All
    arithmetic is the integer contract: each term is
    n_ij * S^2 div (p_i + p_j) with the corpus-scale products routed
    through DECIMAL(38,0) (the dsir_select headroom rule; the DuckDB
    oracle mirrors with HUGEINT `//`), so the fit is bit-reproducible
    across engines. Ratings floor at 1 (an item that loses every
    judgment drives p -> 0, the true Bradley-Terry limit; the floor
    keeps later p_i + p_j denominators nonzero — two floored items
    can face each other after rounding even though one of any playing
    pair must hold a win). Fixed `rounds` rather than a convergence
    test keeps the oracle an unrolled CTE chain; on the fixture the
    ranking is stable from round 3 (property-tested).

    Headroom: the rating itself stays int64 — post-renormalization
    p <= m*S (all mass on one item), and the PRE-norm update is
    bounded by u <= 2*m*S (den_i >= n_i*S^2 / (2*max_p) with
    max_p <= m*S from the previous round's renorm), so the
    CAST(... AS BIGINT) holds to ~4.6e12 RATED ITEMS at S = 10^6 —
    three orders past any preference dataset's item universe; the
    corpus-scale quantities (judgment counts, sums of terms) ride
    DECIMAL(38,0)/HUGEINT throughout.

    Scale shape (the R12 iterative-driver family, quality_classifier's
    contract): the judgment aggregation is one groupBy on (i, j); the
    per-round work is two broadcast-able joins of the games table
    against the O(items) rating vector plus one groupBy(i) — shuffle
    volume O(game pairs), never O(judgments), because judgments
    collapse to per-pair counts up front. Driver traffic per round is
    TWO scalars (total, count) for the renormalization; the rating
    vector itself never leaves the cluster. localCheckpoint cuts the
    per-round lineage exactly like graph_pagerank."""
    S = BT_SCALE
    d = (
        pairs.filter(F.col("chosen_id") != F.col("rejected_id"))
        .groupBy(
            F.col("chosen_id").alias("i"), F.col("rejected_id").alias("j")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    dir2 = d.unionByName(
        d.select(
            F.col("j").alias("i"),
            F.col("i").alias("j"),
            F.lit(0).cast("bigint").alias("w"),
        )
    )
    g = dir2.groupBy("i", "j").agg(F.sum("w").cast("bigint").alias("w"))
    gn = (
        g.alias("a")
        .join(
            g.alias("b"),
            (F.col("a.i") == F.col("b.j")) & (F.col("a.j") == F.col("b.i")),
        )
        .select(
            F.col("a.i").alias("i"),
            F.col("a.j").alias("j"),
            F.col("a.w").alias("w"),
            (F.col("a.w") + F.col("b.w")).alias("n"),
        )
        .localCheckpoint()  # consumed every round + by items
    )
    items = (
        gn.groupBy("i")
        .agg(
            F.sum("w").cast("bigint").alias("wins"),
            F.sum("n").cast("bigint").alias("games"),
        )
        .localCheckpoint()
    )
    if items.isEmpty():
        # no judgments -> no rated items; short-circuit before the
        # round loop would interpolate a NULL renorm total into SQL
        return items.select(
            F.col("i").alias("doc_id"),
            F.col("wins").alias("n_wins"),
            F.col("games").alias("n_games"),
            F.col("wins").alias("rating_fx"),
        )
    r = items.select("i", F.lit(S).cast("bigint").alias("p"))
    for _ in range(rounds):
        pi = r.select(F.col("i").alias("ii"), F.col("p").alias("p_i"))
        pj = r.select(F.col("i").alias("jj"), F.col("p").alias("p_j"))
        den = (
            gn.join(pi, F.col("i") == F.col("ii"))
            .join(pj, F.col("j") == F.col("jj"))
            .select(
                "i",
                F.expr(
                    f"CAST(CAST(n AS DECIMAL(38,0)) * {S} * {S}"
                    " div (CAST(p_i AS DECIMAL(38,0)) + p_j)"
                    " AS DECIMAL(38,0))"
                ).alias("t"),
            )
            .groupBy("i")
            .agg(F.sum("t").alias("den"))
        )
        upd = (
            items.join(den, "i")
            .select(
                "i",
                F.greatest(
                    F.expr(
                        f"CAST(CAST(wins AS DECIMAL(38,0)) * {S} * {S}"
                        " div den AS BIGINT)"
                    ),
                    F.lit(1),
                ).alias("p"),
            )
            .localCheckpoint()
        )
        tot, m = upd.agg(
            F.sum("p").cast("decimal(38,0)"), F.count(F.lit(1))
        ).first()
        r = upd.select(
            "i",
            F.expr(
                f"CAST(CAST(p AS DECIMAL(38,0)) * {m} * {S}"
                f" div CAST({tot} AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("p"),
        ).localCheckpoint()
    return items.join(r, "i").select(
        F.col("i").alias("doc_id"),
        F.col("wins").alias("n_wins"),
        F.col("games").alias("n_games"),
        F.col("p").alias("rating_fx"),
    )


def preference_rating(
    spark: SparkSession, sf_dir: str, rounds: int = BT_ROUNDS
) -> DataFrame:
    """Bradley-Terry ratings over the corpus's own noisy judgment
    stream: chains `preference_judgments` (the KxK best-x-worst cross
    per source with ~20% md5-flipped judgments) into
    `preference_rating_frame`. NOT a declared @query: it is tested
    pytest-only (differential vs `preference_rating_oracle` +
    planted-transitivity properties)."""
    return preference_rating_frame(
        preference_judgments(spark, sf_dir), rounds=rounds
    )


def preference_rating_oracle(rounds: int = BT_ROUNDS) -> str:
    """DuckDB oracle for `preference_rating`: the identical integer
    minorization unrolled as one CTE chain — round k's tables
    (den{k}, u{k}, t{k}, r{k}) are plain SQL over round k-1, HUGEINT
    where the Spark side routes DECIMAL(38,0). Every CTE is
    MATERIALIZED: den{k} references r{k-1} twice and t{k} re-references
    u{k}, so default inlining would expand the chain ~4^rounds times
    (measured: it exhausts the fd limit re-scanning documents before it
    even runs). The pairs CTE is the shared `_PREF_JUDGMENTS_SQL`, so
    the judgment stream is definitionally `preference_judgments`'s
    output."""
    S = BT_SCALE
    parts = [
        f"""
        WITH pref AS MATERIALIZED ({_PREF_JUDGMENTS_SQL}),
        d AS MATERIALIZED (SELECT chosen_id AS i, rejected_id AS j, count(*) AS w
              FROM pref WHERE chosen_id <> rejected_id GROUP BY 1, 2),
        dir2 AS (SELECT i, j, w FROM d
                 UNION ALL SELECT j AS i, i AS j, 0 AS w FROM d),
        g AS (SELECT i, j, CAST(sum(w) AS BIGINT) AS w
              FROM dir2 GROUP BY i, j),
        gn AS MATERIALIZED (SELECT a.i, a.j, a.w, a.w + b.w AS n
               FROM g a JOIN g b ON a.i = b.j AND a.j = b.i),
        items AS MATERIALIZED (SELECT i, CAST(sum(w) AS BIGINT) AS wins,
                         CAST(sum(n) AS BIGINT) AS games
                  FROM gn GROUP BY i),
        r0 AS MATERIALIZED (SELECT i, CAST({S} AS HUGEINT) AS p FROM items)"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f""",
        den{k} AS MATERIALIZED (
            SELECT gn.i,
                   CAST(sum((CAST(gn.n AS HUGEINT) * {S} * {S})
                            // (pi.p + pj.p)) AS HUGEINT) AS den
            FROM gn JOIN r{k - 1} pi ON gn.i = pi.i
                    JOIN r{k - 1} pj ON gn.j = pj.i
            GROUP BY gn.i
        ),
        u{k} AS MATERIALIZED (
            SELECT it.i,
                   greatest((CAST(it.wins AS HUGEINT) * {S} * {S})
                            // den{k}.den,
                            CAST(1 AS HUGEINT)) AS p
            FROM items it JOIN den{k} ON it.i = den{k}.i
        ),
        t{k} AS MATERIALIZED (SELECT CAST(sum(p) AS HUGEINT) AS tot,
                        CAST(count(*) AS HUGEINT) AS m FROM u{k}),
        r{k} AS MATERIALIZED (SELECT i, (p * t{k}.m * {S}) // t{k}.tot AS p
                 FROM u{k}, t{k})"""
        )
    parts.append(
        f"""
        SELECT it.i AS doc_id, it.wins AS n_wins, it.games AS n_games,
               CAST(r{rounds}.p AS BIGINT) AS rating_fx
        FROM items it JOIN r{rounds} ON it.i = r{rounds}.i"""
    )
    return "".join(parts)


CURRICULUM_SENTINEL = 2**62  # "no fitted length reaches stage > k"


def curriculum_thresholds(spark: SparkSession, sf_dir: str) -> list[int]:
    """The fitted curriculum stage map as CURRICULUM_STAGES-1 length
    thresholds: L_k = MIN n_tokens whose fitted quartile stage
    exceeds k (CURRICULUM_SENTINEL when no fitted length does). The
    serving rule stage(v) = 1 + #{k : v >= L_k} reproduces the batch
    stage function EXACTLY on every fitted length — stage is monotone
    in length, so v >= L_k iff stage(v) > k — and extends it as the
    batch cum() step function to lengths the fit corpus never saw:
    between fitted lengths v takes the floor-fitted stage (cum only
    jumps AT fitted lengths), above the fitted maximum the maximum
    fitted stage, and below the fitted minimum stage 1 (shortest goes
    first — the serving convention for out-of-support shortness; the
    batch formula is 0/undefined there). Persist with
    `artifacts.save_curriculum_thresholds` and serve with
    `streaming.curriculum_stage_stream`; the driver pull is O(stages)
    ints (the fit-once/serve-many artifact for pipeline_curriculum,
    like dsir_ratio_table is for dsir_select)."""
    docs = table(spark, sf_dir, "documents")
    lens = docs.select(
        F.size(
            F.coalesce(tokens("text"), F.array().cast("array<string>"))
        ).alias("n_tokens"),
    )
    hist = lens.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    stages = hist.select(
        "n_tokens",
        F.sum("c").over(wcum).alias("cum_c"),
        F.sum("c").over(wall).alias("n_total"),
    ).select(
        "n_tokens",
        F.expr(
            f"({CURRICULUM_STAGES} * cum_c + n_total - 1) div n_total"
        ).alias("stage"),
    )
    # O(stages) driver pull: one min per stage bucket
    per_stage = {
        r["stage"]: r["mn"]
        for r in stages.groupBy("stage")
        .agg(F.min("n_tokens").alias("mn"))
        .collect()
    }
    out = []
    best = CURRICULUM_SENTINEL
    for k in range(CURRICULUM_STAGES - 1, 0, -1):
        # L_k = min length with stage > k: scan stages high to low
        if k + 1 in per_stage:
            best = min(best, per_stage[k + 1])
        out.append(best)
    return list(reversed(out))
