"""Model-evaluation operators: the offline metrics a training-data /
quality-classifier pipeline computes at scale (exact AUC from rank sums,
calibration reliability bins with Brier score).

The reference has no evaluation surface (it is a single-purpose ETL,
reference main.py:71-372); these are the ABSENT-side operators a corpus
pipeline needs the moment it trains a quality or filter model on the data
it ships.

Float discipline (the repo convention): everything that crosses the hash
gate is either BIGINT, a PICKED parquet value, or a per-row 6/12-dp
DECIMAL quantization whose SUM is exact and order-free; the final ratios
are single double expressions written identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.operators.relational import (
    two_phase_global_rank,
)
from simple_land_registry_data_ingestion_spark.tables import load


def eval_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of "event value predicts purchase" via the
    Mann-Whitney rank-sum identity — the way AUC is computed at scale
    (one rank pass), not by threshold sweeping:

        AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos · n_neg)

    with midranks for ties.  Everything before the final division is
    INTEGER: per-row doubled midrank 2·rank_min + (ties−1) (so the .5
    midranks never materialize as floats), summed over positives as
    BIGINT; the one double division rounds 6dp.  Ties on the score are
    handled exactly as scipy/sklearn do (average rank).

    Scale shape: ONE global rank over (value, then ties counted per
    value), computed by the TWO-PHASE distributed rank (per-bucket
    counts → broadcast prefix offsets → partitioned window; the
    events_global_rank_two_phase machinery, mode='rank' so ties get the
    global min-rank — ties never straddle buckets because the bucket is
    a function of the value).  After the rank, a single ungrouped
    BIGINT aggregate."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.col("value"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    ranked = two_phase_global_rank(
        ev,
        F.floor(F.col("value")).cast("long"),
        ["value"],
        mode="rank",
        out="rank_min",
    ).select(
        "y",
        "rank_min",
        F.count(F.lit(1))
        .over(Window.partitionBy("value"))
        .cast("long")
        .alias("ties"),
    )
    agg = ranked.agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("n_neg"),
        F.sum(
            F.when(
                F.col("y") == 1,
                F.lit(2) * F.col("rank_min") + (F.col("ties") - F.lit(1)),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("r_pos_x2"),
    )
    auc = (
        F.col("r_pos_x2").cast("double") / F.lit(2.0)
        - F.col("n_pos").cast("double")
        * (F.col("n_pos") + F.lit(1)).cast("double")
        / F.lit(2.0)
    ) / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
    return agg.select(
        "n_pos", "n_neg", "r_pos_x2", F.round(auc, 6).alias("auc")
    )


def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration reliability diagram + per-bin Brier score for a
    synthetic quality-classifier: the pre-release check that a score
    used to FILTER the corpus actually means what it says (a 0.9 bucket
    should be ~90% positive).

    The corpus carries no model scores, so each event gets a
    deterministic planted probability from event_id arithmetic
    (the text_pii_scan planting pattern): positives draw from the upper
    range, negatives from the lower, so the diagram is non-trivially
    sloped and the green hash certifies binning + both metrics exactly.

    Float discipline: p is quantized to DECIMAL(9,6) at creation (sum
    exact, order-free); the per-row Brier term (p−y)² is one double
    multiply rounded 12dp into DECIMAL(18,12) before the sum; the three
    per-bin ratios are single double divisions rounded 6dp.

    Scale shape: pure scan-stage arithmetic then ONE map-side-combined
    aggregation on the 10-value bin key."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    mixed = ((F.col("event_id") % 1000003) * 2654435761 + 13).cast("long")
    raw = F.when(
        F.col("y") == 1, F.lit(450) + (mixed % 549)
    ).otherwise(mixed % 700)
    p = F.round(raw.cast("double") / F.lit(999.0), 6).cast("decimal(9,6)")
    scored = ev.select(
        "y",
        p.alias("p"),
        F.least(
            F.lit(9), F.floor(p.cast("double") * 10).cast("long")
        ).alias("bin"),
    )
    brier_term = F.round(
        (F.col("p").cast("double") - F.col("y"))
        * (F.col("p").cast("double") - F.col("y")),
        12,
    ).cast("decimal(18,12)")
    return (
        scored.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum("p").alias("sum_p"),
            F.sum(brier_term).alias("sum_bt"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            F.round(
                F.col("sum_p").cast("double") / F.col("n").cast("double"), 6
            ).alias("avg_p"),
            F.round(
                F.col("n_pos").cast("double") / F.col("n").cast("double"), 6
            ).alias("frac_pos"),
            F.round(
                F.col("sum_bt").cast("double") / F.col("n").cast("double"), 6
            ).alias("brier"),
        )
    )


def eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user NDCG@k of "value ranks engagement" — the standard
    ranking-quality metric for a retrieval / recommendation model,
    computed the distributed way: ONE window per ordering, no per-query
    collect.  Graded relevance comes from the event type
    (purchase=3, click=2, view=1, error=0); the model order is value
    DESC (event_id tie-break), the ideal order is relevance DESC.

    Float discipline: gains (2^rel − 1) are INTEGER; each position term
    gain / log2(pos+1) is one double division rounded 12dp into
    DECIMAL(28,12) so the per-user sums are exact and order-free; the
    final ndcg = dcg/idcg is a single double division rounded 6dp.

    Scale shape: two windows partitioned BY USER (parallel across the
    key, never global), filtered to the top k rows each, then one
    groupBy(user) aggregate — at 100 TB this is two keyed shuffles on
    the same key, AQE-coalesced.  Output is one row per user with >= 1
    event (bounded by the user dimension, not the event count)."""
    k = 10
    rel = (
        F.when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "view", 1)
        .otherwise(0)
    )
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", rel.alias("rel")
    )
    gain = F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0)
    term = F.round(
        gain / F.log2(F.col("pos").cast("double") + F.lit(1.0)), 12
    ).cast("decimal(28,12)")
    w_model = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), "event_id"
    )
    w_ideal = Window.partitionBy("user_id").orderBy(
        F.col("rel").desc(), F.col("value").desc(), "event_id"
    )
    dcg = (
        ev.withColumn("pos", F.row_number().over(w_model).cast("long"))
        .where(F.col("pos") <= k)
        .select("user_id", term.alias("t"))
        .groupBy("user_id")
        .agg(F.sum("t").alias("dcg"), F.count(F.lit(1)).cast("long").alias("n_ranked"))
    )
    idcg = (
        ev.withColumn("pos", F.row_number().over(w_ideal).cast("long"))
        .where(F.col("pos") <= k)
        .select("user_id", term.alias("t"))
        .groupBy("user_id")
        .agg(F.sum("t").alias("idcg"))
    )
    return dcg.join(idcg, "user_id").select(
        "user_id",
        "n_ranked",
        F.col("dcg").cast("double").alias("dcg"),
        F.col("idcg").cast("double").alias("idcg"),
        F.when(F.col("idcg") > 0,
               F.round(F.col("dcg").cast("double") / F.col("idcg").cast("double"), 6)
        ).otherwise(F.lit(0.0)).alias("ndcg_at_k"),
    )


def eval_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho AND Kendall tau-b between hourly event volume and
    hourly revenue, per event type — the drift / sanity check that two
    rankings of time buckets agree (volume-ordered vs value-ordered
    hours), with BOTH classical rank statistics certified in one query.

    Everything runs on the HOURLY ROLLUP (720 rows per type here;
    bounded by the calendar, not the event count — 100 TB of events
    still rolls up to <= 8.8k hours/year/type), so the O(n^2) Kendall
    pair join is a bounded self-join on the aggregate, never on raw
    events.  Both inputs are exact: hourly count (BIGINT) and hourly
    2dp-DECIMAL value sum, so ranks agree across engines bit-for-bit.

    Spearman uses DOUBLED midranks (2*rank_min + ties − 1: the .5
    midranks never materialize as floats) and the Pearson-on-ranks
    identity — scale-invariant, so the doubling cancels; all five
    moment sums are BIGINT (bounded by n^3 ~ 7e8 per type).  Kendall
    tau-b counts concordant/discordant/tied pairs as integers over the
    hr_a < hr_b half-join; both coefficients are single double
    expressions rounded 6dp."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hr"),
        F.round(F.col("value"), 2).cast("decimal(18,2)").alias("v"),
    )
    hourly = ev.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("v").alias("rev"),
    ).localCheckpoint(eager=True)
    wt = Window.partitionBy("event_type")

    def dranks(col: str) -> F.Column:
        rank_min = F.rank().over(wt.orderBy(col)).cast("long")
        ties = F.count(F.lit(1)).over(wt.partitionBy("event_type", col)).cast("long")
        return 2 * rank_min + ties - 1

    ranked = hourly.select(
        "event_type", "hr", "cnt", "rev",
        dranks("cnt").alias("rx"),
        dranks("rev").alias("ry"),
    )
    spearman = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).cast("long").alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).cast("long").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("long").alias("syy"),
    )
    a = ranked.select(
        "event_type", F.col("hr").alias("hr_a"),
        F.col("cnt").alias("cnt_a"), F.col("rev").alias("rev_a"),
    )
    b = ranked.select(
        "event_type", F.col("hr").alias("hr_b"),
        F.col("cnt").alias("cnt_b"), F.col("rev").alias("rev_b"),
    )
    sgn_x = F.signum((F.col("cnt_a") - F.col("cnt_b")).cast("double"))
    sgn_y = F.signum(
        (F.col("rev_a") - F.col("rev_b")).cast("double")
    )
    pairs = (
        a.join(b, "event_type")
        .where(F.col("hr_a") < F.col("hr_b"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(sgn_x * sgn_y > 0, 1).otherwise(0)).cast("long").alias("conc"),
            F.sum(F.when(sgn_x * sgn_y < 0, 1).otherwise(0)).cast("long").alias("disc"),
            F.sum(F.when((sgn_x == 0) & (sgn_y != 0), 1).otherwise(0)).cast("long").alias("tx"),
            F.sum(F.when((sgn_y == 0) & (sgn_x != 0), 1).otherwise(0)).cast("long").alias("ty"),
            F.sum(F.when((sgn_x == 0) & (sgn_y == 0), 1).otherwise(0)).cast("long").alias("txy"),
        )
    )
    joined = spearman.join(pairs, "event_type")
    n = F.col("n_hours").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    den = F.sqrt(
        (n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * (n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    n0 = F.col("conc") + F.col("disc") + F.col("tx") + F.col("ty") + F.col("txy")
    tau_den = F.sqrt(
        (n0 - F.col("tx") - F.col("txy")).cast("double")
        * (n0 - F.col("ty") - F.col("txy")).cast("double")
    )
    return joined.select(
        "event_type",
        "n_hours",
        "conc",
        "disc",
        F.round(num / den, 6).alias("spearman_rho"),
        F.round(
            (F.col("conc") - F.col("disc")).cast("double") / tau_den, 6
        ).alias("kendall_tau_b"),
    )


def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent document QUALITY RATERS —
    the agreement statistic a labeling pipeline reports before trusting
    heuristic labels (kappa corrects raw agreement for chance, which
    matters exactly when class priors are skewed, as quality labels
    are).  Rater A buckets on document length, rater B on type-token
    ratio; both are 3-class (0/1/2), derived from the text by identical
    integer/decimal expressions on both engines.

    kappa = (p_o − p_e) / (1 − p_e) with p_o from the diagonal and p_e
    from the marginal products — every input to the final expression is
    a BIGINT count (the 3x3 confusion matrix + marginals), so the one
    double expression rounds 6dp identically.

    Scale shape: scan-stage label derivation, ONE 9-cell aggregate, a
    1-row result — the whole query is map-side combine; at 100 TB the
    only shuffle is 9 rows."""
    toks = F.split(F.col("text"), " ")
    docs = load(spark, sf_dir, "documents").select(
        F.col("n_chars"),
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
    )
    rater_a = (
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 350, 1)
        .otherwise(2)
    )
    # type-token ratio in exact per-mille (integer div — no doubles)
    ttr_pm = F.expr("(n_uniq * 1000) div n_tok")
    rater_b = (
        F.when(ttr_pm < F.lit(560), 0)
        .when(ttr_pm < F.lit(700), 1)
        .otherwise(2)
    )
    labeled = docs.select(
        rater_a.cast("long").alias("a"),
        rater_b.cast("long").alias("b"),
    )
    cells = labeled.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    ma = cells.groupBy("a").agg(F.sum("c").cast("long").alias("na"))
    mb = cells.groupBy(F.col("b").alias("a")).agg(
        F.sum("c").cast("long").alias("nb")
    )
    chance = (
        ma.join(mb, "a", "full_outer")
        .select(
            (F.coalesce(F.col("na"), F.lit(0)) * F.coalesce(F.col("nb"), F.lit(0))).alias("prod")
        )
        .agg(F.sum("prod").cast("long").alias("sum_prod"))
    )
    n = F.col("n").cast("double")
    po = F.col("agree").cast("double") / n
    pe = F.col("sum_prod").cast("double") / (n * n)
    return tot.crossJoin(F.broadcast(chance)).select(
        "n",
        "agree",
        "sum_prod",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


def eval_mrr_hit_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@k and HitRate@k for the same "value ranks engagement" model
    eval_ndcg_at_k grades — the binary-relevance pair of metrics every
    recommender eval reports next to NDCG.  Relevant = purchase events;
    the model order is value DESC (event_id tie-break).

    Float discipline: each user's reciprocal rank 1/first_pos is ONE
    double division rounded 12dp into DECIMAL(28,12); the corpus MRR is
    the exact decimal sum divided once (order-free), so the single-row
    result hashes identically.

    Scale shape: one user-partitioned window (same shuffle key as the
    NDCG query — a shared-scan candidate), a per-user min, one global
    1-row aggregate."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    topk = (
        ev.withColumn("pos", F.row_number().over(w).cast("long"))
        .where(F.col("pos") <= 10)
    )
    per_user = topk.groupBy("user_id").agg(
        F.min(F.when(F.col("y") == 1, F.col("pos"))).alias("first_rel")
    )
    rr = F.when(
        F.col("first_rel").isNotNull(),
        F.round(F.lit(1.0) / F.col("first_rel").cast("double"), 12),
    ).otherwise(F.lit(0.0)).cast("decimal(28,12)")
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("first_rel").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
        F.round(
            F.sum(rr).cast("double") / F.count(F.lit(1)), 6
        ).alias("mrr_at_k"),
        F.round(
            F.sum(F.when(F.col("first_rel").isNotNull(), 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hit_rate_at_k"),
    )


def eval_ips_offpolicy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation with IPS and SNIPS — "what would the new
    ranking policy have earned on the logged traffic?" computed from the
    log alone: each logged action is reweighted by the
    target/logging-propensity ratio; SNIPS divides by the weight sum
    instead of n to cut variance (the estimator pair every bandit /
    recsys replay eval reports).

    The corpus logs no propensities, so both are PLANTED
    deterministically from event_id arithmetic (the calibration-bins
    pattern): p_log in [0.2, 0.7), the target policy up-weights
    purchases — so the estimate is non-trivially different from the
    on-policy mean and the green hash certifies weighting, clipping
    (w <= 10), and both normalizations exactly.

    Float discipline: p_log/p_tgt are DECIMAL(9,6)-quantized at
    creation; the per-row weighted reward rounds 12dp into
    DECIMAL(28,12) before the sum; final ratios are single double
    divisions rounded 6dp.

    Scale shape: scan-stage arithmetic, ONE map-side-combined aggregate
    per event type."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.round(F.col("value"), 2).cast("decimal(18,2)").alias("r"),
    )
    mixed = ((F.col("event_id") % 1000003) * 2654435761 + 13).cast("long")
    p_log = F.round(
        (F.lit(200) + (mixed % 500)).cast("double") / F.lit(1000.0), 6
    ).cast("decimal(9,6)")
    p_tgt = F.round(
        F.when(
            F.col("event_type") == "purchase",
            (F.lit(500) + (mixed % 499)).cast("double"),
        )
        .otherwise((F.lit(100) + (mixed % 400)).cast("double"))
        / F.lit(1000.0),
        6,
    ).cast("decimal(9,6)")
    w = F.least(
        F.lit(10.0),
        p_tgt.cast("double") / p_log.cast("double"),
    )
    scored = ev.select(
        "event_type",
        F.round(w, 12).cast("decimal(28,12)").alias("w"),
        F.round(w * F.col("r").cast("double"), 12)
        .cast("decimal(28,12)")
        .alias("wr"),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("w").cast("double"), 6).alias("sum_w"),
        F.round(
            F.sum("wr").cast("double") / F.count(F.lit(1)), 6
        ).alias("ips_value"),
        F.round(
            F.sum("wr").cast("double") / F.sum("w").cast("double"), 6
        ).alias("snips_value"),
    )


def eval_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals with measured coverage — the
    distribution-free way to attach honest error bars to ANY point
    model (Vovk; the method every modern uncertainty pipeline ships):
    hold out a calibration split, take the ceil((n+1)(1−α))-th smallest
    nonconformity score as the radius q_hat, and the interval
    prediction ± q_hat covers new points with probability >= 1−α.

    Everything is exact: the calib/test split is event_id-hash
    deterministic; the point model is the per-type calibration mean
    (exact 2dp-decimal sum, one double division); nonconformity
    |v − mu| is identical double arithmetic on both engines; q_hat is a
    PICKED order statistic (rank k via a per-type window — no
    interpolation); coverage is an integer count ratio.  The one
    at-scale shuffle is the per-type score window (same two-phase rank
    upgrade path as events_global_rank_two_phase when a type's calib
    set outgrows a task).

    Output per event_type: (n_calib, n_test, k_rank, mu, q_hat,
    coverage) — coverage >= ~0.9 certifies the guarantee empirically."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value"), 2).cast("decimal(18,2)").alias("v"),
        (((F.col("event_id") % 1000003) * 2654435761 + 13) % 1000 < 500).alias("is_calib"),
    )
    calib = ev.where(F.col("is_calib"))
    test = ev.where(~F.col("is_calib"))
    model = calib.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_calib"),
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mu"),
    )
    scored = calib.join(F.broadcast(model), "event_type").select(
        "event_type",
        "event_id",
        "n_calib",
        F.abs(F.col("v").cast("double") - F.col("mu")).alias("s"),
    )
    # k = ceil((n+1) * (1 - alpha)) with alpha in permille; ceiling via
    # (a + 999) div 1000 (operands positive on both engines)
    k = F.expr(
        "((n_calib + 1) * (1000 - 100) + 999) div 1000"
    ).cast("long")
    q_hat = (
        scored.withColumn("k", k)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("s", "event_id")
            ).cast("long"),
        )
        .where(F.col("rk") == F.least(F.col("k"), F.col("n_calib")))
        .select("event_type", "k", F.col("s").alias("q_hat"))
    )
    covered = (
        test.join(F.broadcast(model.select("event_type", "mu")), "event_type")
        .join(F.broadcast(q_hat), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("v").cast("double") - F.col("mu"))
                    <= F.col("q_hat"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_covered"),
        )
    )
    return (
        model.join(q_hat, "event_type")
        .join(covered, "event_type")
        .select(
            "event_type",
            "n_calib",
            "n_test",
            F.col("k").alias("k_rank"),
            F.round(F.col("mu"), 6).alias("mu"),
            F.round(F.col("q_hat"), 6).alias("q_hat"),
            F.round(
                F.col("n_covered").cast("double") / F.col("n_test"), 6
            ).alias("coverage"),
        )
    )


def eval_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@k — mean average precision, completing the IR metric suite
    (NDCG X162 = graded position-discounted, MRR X167 = first hit, MAP =
    all hits' precision averaged): AP@k sums precision-at-each-hit over
    the top k and divides by min(R, k) where R is the user's TOTAL
    relevant count; MAP averages over users with R > 0 (the trec_eval
    convention).

    Exactness: precision@pos = hit_rank/pos is one double division
    rounded 12dp into DECIMAL(28,12); per-user AP divides the exact sum
    by an INTEGER min(R, k); the corpus mean divides the exact AP sum
    once.  Same scan + user window as the NDCG/MRR queries.

    Output: 1 row (n_users_eval, sum_hits, map_at_k)."""
    k = 10
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    r_total = ev.groupBy("user_id").agg(
        F.sum("y").cast("long").alias("r_total")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    topk = (
        ev.withColumn("pos", F.row_number().over(w).cast("long"))
        .where(F.col("pos") <= k)
    )
    hits = topk.where(F.col("y") == 1).select(
        "user_id",
        "pos",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("pos"))
        .cast("long")
        .alias("hit_rank"),
    )
    prec = F.round(
        F.col("hit_rank").cast("double") / F.col("pos").cast("double"), 12
    ).cast("decimal(28,12)")
    ap = (
        hits.groupBy("user_id")
        .agg(
            F.sum(prec).alias("sum_prec"),
            F.count(F.lit(1)).cast("long").alias("n_hits"),
        )
        .join(r_total, "user_id", "right_outer")
        .where(F.col("r_total") > 0)
        .select(
            "user_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("sum_prec").cast("double"), F.lit(0.0))
                / F.least(F.col("r_total"), F.lit(k)).cast("double"),
                12,
            ).cast("decimal(28,12)").alias("ap"),
        )
    )
    return ap.agg(
        F.count(F.lit(1)).cast("long").alias("n_users_eval"),
        F.sum("n_hits").cast("long").alias("sum_hits"),
        F.round(
            F.sum("ap").cast("double") / F.count(F.lit(1)), 6
        ).alias("map_at_k"),
    )


def eval_multiclass_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 for the 3-class document
    quality raters of eval_cohens_kappa (rater A = reference, rater B =
    prediction) — the standard classification report, computed from ONE
    confusion-matrix aggregate: TP/FP/FN per class are integer sums over
    the 9 cells, each ratio is a single double division rounded 6dp
    (0-denominator classes report 0.0, the sklearn zero_division=0
    convention).

    Scale: identical to the kappa query — scan-stage label derivation,
    one 9-cell aggregate; the per-class report is arithmetic on 9
    numbers."""
    toks = F.split(F.col("text"), " ")
    docs = load(spark, sf_dir, "documents").select(
        F.col("n_chars"),
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
    )
    rater_a = (
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 350, 1)
        .otherwise(2)
    )
    ttr_pm = F.expr("(n_uniq * 1000) div n_tok")
    rater_b = (
        F.when(ttr_pm < F.lit(560), 0)
        .when(ttr_pm < F.lit(700), 1)
        .otherwise(2)
    )
    cells = (
        docs.select(
            rater_a.cast("long").alias("truth"),
            rater_b.cast("long").alias("pred"),
        )
        .groupBy("truth", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    classes = spark.range(3).select(F.col("id").cast("long").alias("cls"))
    stats = classes.join(
        cells.groupBy(F.col("truth").alias("cls")).agg(
            F.sum(F.when(F.col("pred") == F.col("truth"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(F.col("pred") != F.col("truth"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("fn"),
        ),
        "cls",
        "left_outer",
    ).join(
        cells.where(F.col("pred") != F.col("truth"))
        .groupBy(F.col("pred").alias("cls"))
        .agg(F.sum("c").cast("long").alias("fp")),
        "cls",
        "left_outer",
    ).select(
        "cls",
        F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("tp"),
        F.coalesce(F.col("fp"), F.lit(0)).cast("long").alias("fp"),
        F.coalesce(F.col("fn"), F.lit(0)).cast("long").alias("fn"),
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"),
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double"),
    ).otherwise(F.lit(0.0))
    f1 = F.when(
        2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        F.lit(2.0) * F.col("tp").cast("double")
        / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
    ).otherwise(F.lit(0.0))
    return stats.select(
        "cls", "tp", "fp", "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def eval_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-forecast evaluation with pinball (quantile) loss — the
    scoring rule that makes a q-quantile forecast honest (expected loss
    is minimized exactly at the true quantile): forecast the 0.9
    quantile of hourly volume per event type from the first half of the
    calendar, score it on the second half.

    ENTIRELY INTEGER: the forecast is the PICKED ceil(q·n)-th order
    statistic of calibration hourly counts; the per-hour pinball term is
    carried x10 (q=0.9 -> over-forecast residuals weigh 1, under weigh
    9, both integers), so the summed loss crosses the hash gate as
    BIGINT with zero float anywhere except the final coverage ratio.

    Scale: hourly rollup (calendar-bounded) -> per-type order-statistic
    window -> one test-half aggregate."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hr"),
    )
    hourly = ev.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=True)
    boundary = F.lit("2024-01-16 00:00:00").cast("timestamp")
    calib = hourly.where(F.col("hr") < boundary)
    test = hourly.where(F.col("hr") >= boundary)
    n_calib = calib.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_calib")
    )
    ranked = (
        calib.join(n_calib, "event_type")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("c", "hr")
            ).cast("long"),
        )
        .withColumn(
            "k", F.expr("(n_calib * 900 + 999) div 1000").cast("long")
        )
    )
    q_hat = ranked.where(F.col("rk") == F.col("k")).select(
        "event_type", "n_calib", F.col("c").alias("q_hat")
    )
    scored = test.join(F.broadcast(q_hat), "event_type")
    under = F.col("c") >= F.col("q_hat")
    return scored.groupBy("event_type").agg(
        F.max("n_calib").alias("n_calib"),
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.max("q_hat").alias("q_hat"),
        F.sum(
            F.when(
                under,
                F.lit(9) * (F.col("c") - F.col("q_hat")),
            ).otherwise(F.col("q_hat") - F.col("c"))
        ).cast("long").alias("sum_pinball_x10"),
        F.round(
            F.sum(F.when(F.col("c") <= F.col("q_hat"), 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("frac_covered"),
    )


def eval_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for uplift evaluation — the decile-wise incremental
    gains audit every targeting model ships with: rank units by the
    model score, then per cumulative decile compare treated conversions
    against the control conversions SCALED to the treated population:

        Qini(k) = Y_t(k) − Y_c(k) · N_t(k) / N_c(k)

    Treatment is the same deterministic hash cohort as
    events_diff_in_diff (so true uplift ~ 0 and the curve certifies the
    COMPUTATION, hovering near zero rather than painting a fake win);
    the score is the event value, ranked by the global (value, id)
    order — the decile assignment reuses the rank-decile mapping whose
    distributed form is events_global_rank_two_phase.

    Everything before the final scaling ratio is BIGINT (cumulative
    conversion/population counts via a 10-row running-sum window); the
    Qini value is one double expression rounded 6dp.

    Output: (decile, n_t, n_c, cum_resp_t, cum_resp_c, qini)."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "value",
        (((F.col("user_id") % 1000003) * 2654435761 + 13) % 1000 < 500).alias("treat"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    n_total = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # descending two-phase global rank: score deciles form without the
    # single-task global window (bucket = floor(value), offsets accumulate
    # highest-bucket-first)
    ranked = two_phase_global_rank(
        ev,
        F.floor(F.col("value")).cast("long"),
        [F.col("value").desc(), "event_id"],
        out="rk",
        descending=True,
    )
    per_dec = (
        ranked.crossJoin(F.broadcast(n_total))
        .select(
            F.expr("((rk - 1) * 10) div n").alias("decile"),
            "treat",
            "y",
        )
        .groupBy("decile")
        .agg(
            F.sum(F.when(F.col("treat"), 1).otherwise(0)).cast("long").alias("n_t"),
            F.sum(F.when(~F.col("treat"), 1).otherwise(0)).cast("long").alias("n_c"),
            F.sum(F.when(F.col("treat"), F.col("y")).otherwise(0))
            .cast("long")
            .alias("y_t"),
            F.sum(F.when(~F.col("treat"), F.col("y")).otherwise(0))
            .cast("long")
            .alias("y_c"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_dec.select(
        "decile",
        "n_t",
        "n_c",
        F.sum("n_t").over(w).cast("long").alias("cn_t"),
        F.sum("n_c").over(w).cast("long").alias("cn_c"),
        F.sum("y_t").over(w).cast("long").alias("cum_resp_t"),
        F.sum("y_c").over(w).cast("long").alias("cum_resp_c"),
    )
    return cum.select(
        "decile",
        "n_t",
        "n_c",
        "cum_resp_t",
        "cum_resp_c",
        F.round(
            F.col("cum_resp_t").cast("double")
            - F.col("cum_resp_c").cast("double")
            * F.col("cn_t").cast("double")
            / F.col("cn_c").cast("double"),
            6,
        ).alias("qini"),
    )


def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score — reliability, resolution,
    uncertainty — for the same planted quality-classifier as
    eval_calibration_bins: REL measures how far bin-mean predictions sit
    from bin outcome rates (lower better), RES how much the bins
    separate outcomes from base rate (higher better), UNC the base-rate
    entropy floor.  The three-way split is what turns "the Brier is
    0.21" into "the model is sharp but miscalibrated — recalibrate, not
    retrain".

    Float discipline: predictions are DECIMAL(9,6) (exact sums), labels
    integers, so every bin moment (n_k, sum_p, sum_y) is exact; each
    bin's REL/RES term (one double expression over exact moments) is
    quantized 12dp into DECIMAL(28,12) before the 10-term sum; the raw
    Brier reuses the exact per-row-term path of eval_calibration_bins.

    Scale: one scan-stage scoring pass, one 10-key map-side-combined
    aggregate, a 1-row broadcast of the base rate back onto 10 rows."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    mixed = ((F.col("event_id") % 1000003) * 2654435761 + 13).cast("long")
    raw = F.when(
        F.col("y") == 1, F.lit(450) + (mixed % 549)
    ).otherwise(mixed % 700)
    p = F.round(raw.cast("double") / F.lit(999.0), 6).cast("decimal(9,6)")
    scored = ev.select(
        "y",
        p.alias("p"),
        F.least(
            F.lit(9), F.floor(p.cast("double") * 10).cast("long")
        ).alias("bin"),
    )
    brier_term = F.round(
        (F.col("p").cast("double") - F.col("y"))
        * (F.col("p").cast("double") - F.col("y")),
        12,
    ).cast("decimal(18,12)")
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_k"),
        F.sum("p").alias("sum_p"),
        F.sum("y").cast("long").alias("sum_y"),
        F.sum(brier_term).alias("sum_brier"),
    )
    base = bins.groupBy().agg(
        F.sum("n_k").cast("long").alias("n"),
        F.sum("sum_y").cast("long").alias("pos"),
        F.sum("sum_brier").cast("decimal(38,12)").alias("brier_sum"),
    )
    j = bins.crossJoin(F.broadcast(base))
    pbar = F.col("sum_p").cast("double") / F.col("n_k").cast("double")
    ybar = F.col("sum_y").cast("double") / F.col("n_k").cast("double")
    ybase = F.col("pos").cast("double") / F.col("n").cast("double")
    terms = j.select(
        "n",
        "pos",
        "brier_sum",
        F.round(
            F.col("n_k").cast("double") * (pbar - ybar) * (pbar - ybar), 12
        ).cast("decimal(28,12)").alias("rel_term"),
        F.round(
            F.col("n_k").cast("double") * (ybar - ybase) * (ybar - ybase), 12
        ).cast("decimal(28,12)").alias("res_term"),
    )
    return terms.groupBy().agg(
        F.first("n").alias("n"),
        F.first("pos").alias("n_pos"),
        F.round(
            F.first("brier_sum").cast("double") / F.first("n").cast("double"), 9
        ).alias("brier"),
        F.round(
            F.sum("rel_term").cast("double") / F.first("n").cast("double"), 9
        ).alias("reliability"),
        F.round(
            F.sum("res_term").cast("double") / F.first("n").cast("double"), 9
        ).alias("resolution"),
        F.round(
            (F.first("pos").cast("double") / F.first("n").cast("double"))
            * (1.0 - F.first("pos").cast("double") / F.first("n").cast("double")),
            9,
        ).alias("uncertainty"),
    )
