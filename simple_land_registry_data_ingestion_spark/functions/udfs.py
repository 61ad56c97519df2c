"""User-defined function surfaces beyond scalar pandas UDFs: grouped-map
``applyInPandas`` and Python UDTFs (SURVEY section 2.9).

The reference has no UDF machinery at all — its custom logic is plain
Python over driver-side scalars (reference lib_datetime_not_used.py:14-132).
These are the two Spark shapes that logic grows into when it must run
distributed:

 - ``applyInPandas``: per-group pandas transforms (normalization, model
   scoring, per-entity resampling).  One shuffle on the grouping key, then
   Arrow batches per group into Python.  The 100 TB caveat: a GROUP is the
   unit of memory — groups must fit in a worker's RAM, so key choice (and
   salting hot keys) matters more than row count.
 - Python UDTF (Spark 3.5+): one row in, many typed rows out, usable in
   FROM/LATERAL position.  Row-at-a-time Python — keep it OFF the hot path
   (JVM ``explode`` covers the common cases; a UDTF earns its cost only
   when the expansion logic is genuinely imperative).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from simple_land_registry_data_ingestion_spark.tables import load

_ZSCORE_SCHEMA = (
    "c_custkey long, c_mktsegment string, acctbal double, zscore double"
)


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: z-score account balances within one segment.

    Numpy float64 mean/std (ddof=1) — the whole group is in memory, so the
    reduction is exact enough that a 4dp round hash-matches the SQL
    window-function oracle.
    """
    bal = pdf["c_acctbal"].to_numpy(dtype=np.float64)
    mu = bal.mean()
    sd = bal.std(ddof=1)
    # SQL STDDEV_SAMP is NULL for a 1-row group; numpy std(ddof=1) is NaN
    # (and 0.0 for a constant group, which would divide to inf).  Guard so
    # those rows null out exactly like the window-function oracle — NaN in
    # the returned float column crosses Arrow as null.
    if np.isfinite(sd) and sd > 0:
        zscore = np.round((bal - mu) / sd, 4)
        zscore = np.where(np.isfinite(zscore), zscore, np.nan)
    else:
        zscore = np.full(bal.shape, np.nan)
    return pd.DataFrame(
        {
            "c_custkey": pdf["c_custkey"],
            "c_mktsegment": pdf["c_mktsegment"],
            "acctbal": np.round(bal, 2),
            "zscore": zscore,
        }
    )


def grouped_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment z-score via ``applyInPandas`` (grouped-map pandas UDF).

    This particular transform IS expressible as window functions (the oracle
    proves it) — it's here to pin the grouped-map plumbing: shuffle on the
    key, Arrow batch per group, pandas in, pandas out, schema declared.
    Real uses are the transforms window functions can't express (per-group
    sklearn scoring, per-entity time-series resampling).
    """
    customer = load(spark, sf_dir, "customer")
    return (
        customer.select("c_custkey", "c_mktsegment", "c_acctbal")
        .groupBy("c_mktsegment")
        .applyInPandas(_zscore_group, _ZSCORE_SCHEMA)
    )


CHUNK_SIZE = 200
CHUNK_STRIDE = 100


@udtf(returnType="chunk_idx bigint, chunk string, n_chars bigint")
class ChunkText:
    """UDTF: split a document into overlapping fixed-size character windows
    (CHUNK_SIZE chars, CHUNK_STRIDE apart) — the chunking step every LLM
    training-data pipeline runs before tokenization/embedding.  One typed
    row per chunk; the trailing chunk may be short."""

    def eval(self, text: str):  # noqa: D102 - UDTF contract
        if not text:
            return
        for idx, start in enumerate(range(0, len(text), CHUNK_STRIDE)):
            chunk = text[start : start + CHUNK_SIZE]
            yield idx, chunk, len(chunk)


def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk the documents table through a Python UDTF in LATERAL position.
    Plan: scan -> Generate(PythonUDTF) (row expansion in the Python worker)
    -> project; no shuffle.  The JVM twin of this shape is
    ``posexplode(split(...))`` (scalars.generator_explode_tokens) — this one
    exists to pin the UDTF registration/lateral-join path for expansions
    that are genuinely imperative."""
    spark.udtf.register("chunk_text", ChunkText)
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.n_chars
        FROM documents_v d, LATERAL chunk_text(d.text) c
        """
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk",
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def _gini_np(v: pd.Series) -> float:
    """Gini coefficient via the sorted-index identity
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n  (x ascending, i 1-based)."""
    x = np.sort(v.to_numpy(dtype="float64"))
    n = len(x)
    total = x.sum()
    if n == 0 or total == 0.0:
        return 0.0
    idx = np.arange(1, n + 1, dtype="float64")
    return float((2.0 * (idx * x).sum()) / (n * total) - (n + 1.0) / n)


def _count(v: pd.Series) -> int:
    return len(v)


def pandas_grouped_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom AGGREGATE in Python: per-status Gini concentration of order
    values, as a GROUPED_AGG pandas UDF — the Spark shape for aggregates
    the built-in library lacks (a true UDAF: Arrow-batches each group's
    column into one vectorized numpy reduction).

    The 100 TB caveat mirrors exact percentiles: a GROUPED_AGG buffers the
    whole group, so the grouping key must bound group size (here: 3 status
    groups is the DEMO of the API, not the production key choice; salt or
    pre-aggregate hot keys).  Rounded to 6 dp so numpy's pairwise summation
    and the oracle's sequential SUM agree."""
    gini = F.pandas_udf(_gini_np, "double")
    # Spark forbids mixing GROUPED_AGG pandas UDFs with JVM aggregates in
    # one agg (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a second
    # pandas aggregate over the same Arrow batch.
    n = F.pandas_udf(_count, "long")
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(gini("o_totalprice"), 6).alias("gini_totalprice"),
            n("o_totalprice").alias("n_orders"),
        )
    )


_COGROUP_SCHEMA = (
    "key long, n_events long, n_orders long, n_users long, n_customers long"
)

#: Cogroup bucket count.  THE cogroup sizing rule: each key = one Python
#: invocation receiving both groups, so a fine key (raw user_id: tens of
#: thousands of tiny groups) drowns in per-call overhead — measured 18.7 s
#: vs 0.5 s at sf0.1 for this exact computation, a 37x cliff with identical
#: results.  Buckets must stay coarse enough to amortize the call and fine
#: enough that one bucket's two frames fit a worker's memory.
COGROUP_BUCKETS = 64


def _activity_vs_orders(key: tuple, events_pdf: pd.DataFrame, orders_pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "key": [int(key[0])],
            "n_events": [len(events_pdf)],
            "n_orders": [len(orders_pdf)],
            "n_users": [int(events_pdf["user_id"].nunique())],
            "n_customers": [int(orders_pdf["o_custkey"].nunique())],
        }
    )


def cogroup_activity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas over a COGROUP: events and orders hash-bucketed by
    their entity key meet per bucket in ONE Python call receiving BOTH
    frames — the shape for cross-table logic a join would force into one
    wide row-set first (per-entity reconciliation, drift checks between an
    activity stream and a transactions table).

    Each side shuffles once on the bucket key; buckets present in either
    side appear (full-outer semantics) with an empty frame for the absent
    side.  Bucket count is the scale knob (see COGROUP_BUCKETS): per-key
    Python-call overhead one way, per-bucket memory the other."""
    events = load(spark, sf_dir, "events").select(
        (F.col("user_id") % COGROUP_BUCKETS).alias("key"), "user_id"
    )
    orders = load(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % COGROUP_BUCKETS).alias("key"), "o_custkey"
    )
    return (
        events.groupby("key")
        .cogroup(orders.groupby("key"))
        .applyInPandas(_activity_vs_orders, _COGROUP_SCHEMA)
    )


def _arrow_digest_batches(batches):
    """mapInArrow body: md5 + utf8 byte length per document, computed from
    the Arrow buffers directly (no pandas conversion layer)."""
    import hashlib

    import pyarrow as pa

    for batch in batches:
        texts = [t.as_py() for t in batch.column("text")]
        encoded = [t.encode("utf-8") for t in texts]
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                pa.array([hashlib.md5(b).hexdigest() for b in encoded], pa.string()),
                pa.array([len(b) for b in encoded], pa.int64()),
            ],
            ["doc_id", "md5_hex", "n_bytes"],
        )


def arrow_md5_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the lowest-overhead Python execution surface — batches
    cross as raw Arrow RecordBatches with NO pandas conversion, the right
    shape for byte-level work (digests, codecs, compression probes) where
    a pandas frame adds copies without adding vectorization.  The digest
    itself is per-row by nature; what Arrow removes is the serialization
    tax around it.  Completes the Python-execution matrix alongside
    pandas_udf / applyInPandas / GROUPED_AGG / cogroup / UDTF (SURVEY 2.9).
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        _arrow_digest_batches, "doc_id long, md5_hex string, n_bytes long"
    )


_CUSUM_SCHEMA = "user_id long, max_cusum double, n_over long"


def _cusum_partition(batches) -> "pd.DataFrame":
    """Sequential one-sided CUSUM fold over a PARTITION of events sorted
    by (user_id, ts, event_id) — the iterator/mapInPandas form of the
    per-group fold (per-group machinery, not the fold, is the cost; see
    events_cusum_pandas).

    Plain-Python loop on purpose: the recursion S_i = max(0, S_{i-1} +
    x_i - k) is what no window frame can express (each value depends on
    the clamped previous value).  Arithmetic order matches the oracle's
    recursive CTE exactly: (s + v) - k, then clamp.  The fold carries
    its (user, S, max, n_over) state across Arrow batch boundaries, so
    a user split over two batches folds identically to the grouped-map
    form (rows arrive already sorted; Spark's sort replaces the old
    per-group pandas sort_values with the same (ts, event_id) order)."""
    cur_u = None
    s = 0.0
    mx = 0.0
    n_over = 0
    out_u: list[int] = []
    out_m: list[float] = []
    out_n: list[int] = []
    for pdf in batches:
        for u, v in zip(pdf["user_id"].to_numpy(), pdf["value"].to_numpy()):
            if u != cur_u:
                if cur_u is not None:
                    out_u.append(int(cur_u))
                    out_m.append(round(mx, 6))
                    out_n.append(n_over)
                cur_u = u
                s = 0.0
                mx = 0.0
                n_over = 0
            s = s + float(v) - 50.0
            if s < 0.0:
                s = 0.0
            if s > mx:
                mx = s
            if s > 100.0:
                n_over += 1
    if cur_u is not None:
        out_u.append(int(cur_u))
        out_m.append(round(mx, 6))
        out_n.append(n_over)
    yield pd.DataFrame(
        {
            "user_id": pd.Series(out_u, dtype="int64"),
            "max_cusum": pd.Series(out_m, dtype="float64"),
            "n_over": pd.Series(out_n, dtype="int64"),
        }
    )


def events_cusum_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user one-sided CUSUM drift statistic (Page 1954) — the true
    sequential statistic the window-function family DOCUMENTS as
    inexpressible (events_mean_shift_detect chose two-sample frames
    precisely because CUSUM's clamped recursion has no frame form);
    per-entity imperative state is the legitimate use of Python in the
    row path.

    Execution form: ``mapInPandas`` over partitions
    shuffle-sorted by (user_id, ts, event_id), one carry-state fold per
    partition, instead of ``groupBy().applyInPandas`` — the grouped-map
    path built one pandas frame (plus a result frame and a sort_values)
    PER USER, and at ~67 rows/user that per-group machinery was 6x the
    fold itself (interleaved A/B at sf0.1: 3.31/4.23 -> 0.53/0.71 s
    min/med, output bit-identical; the grouped-map execution path stays
    certified by grouped_zscore_pandas and the holt/kalman/ewma/
    page-hinkley family, all few-group queries where grouped-map is the
    right shape).  The fold order and arithmetic are UNCHANGED: Spark's
    sort provides the same (ts, event_id) order per user the per-group
    sort_values did.

    k = 50 (the stream's long-run mean) so S accumulates only sustained
    positive drift; alarms counted at h = 100.  One shuffle on user_id,
    O(state)=1 per user.

    The DuckDB twin replays the IDENTICAL recursion as a recursive CTE
    over row-numbered events — fold order (ts, event_id) and arithmetic
    order (s + v) - 50 are pinned on both sides, so the driver hashes a
    float recursion bit-for-bit.

    Output: (user_id, max_cusum, n_over)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return (
        ev.repartition(F.col("user_id"))
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(_cusum_partition, _CUSUM_SCHEMA)
    )


def _hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, hr, c): the per-type hourly event counts as DOUBLE —
    the series every sequential-recursion fold below consumes."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hr"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )


# ---------------------------------------------------------------------------
# Holt linear (double exponential) smoothing via applyInPandas
# ---------------------------------------------------------------------------

_HOLT_SCHEMA = (
    "event_type string, n_hours long, level double, trend double, "
    "forecast_next double, sse double"
)

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3
# Complements are PINNED literals (not computed 1.0-x at runtime) so the
# float recursion matches the oracle's CAST literals bit-for-bit; the
# asserts keep them in sync if alpha/beta are ever edited.
_HOLT_ALPHA_C = 0.5
_HOLT_BETA_C = 0.7
assert _HOLT_ALPHA + _HOLT_ALPHA_C == 1.0
assert _HOLT_BETA + _HOLT_BETA_C == 1.0


def _holt_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Sequential Holt fold over one event type's ordered hourly counts.

    Initialization l_1 = x_1, t_1 = 0 (documented; the two-point trend
    init would differ for 1-hour groups).  Arithmetic order is pinned to
    the oracle's recursion exactly:
        l' = (a*x) + ((1-a)*(l+t));  t' = (b*(l'-l)) + ((1-b)*t)
    with the one-step error (x - (l+t)) squared into sse BEFORE the
    update — a float recursion the driver hashes bit-for-bit."""
    pdf = pdf.sort_values("hr")
    level = None
    trend = 0.0
    sse = 0.0
    n = 0
    for x in pdf["c"]:
        x = float(x)
        n += 1
        if level is None:
            level = x
            trend = 0.0
            continue
        pred = level + trend
        err = x - pred
        sse = sse + (err * err)
        # pinned complement constants (see module head), matching the
        # oracle's CAST(0.7 AS DOUBLE) — never 1.0-beta at runtime
        l_new = (_HOLT_ALPHA * x) + (_HOLT_ALPHA_C * (level + trend))
        trend = (_HOLT_BETA * (l_new - level)) + (_HOLT_BETA_C * trend)
        level = l_new
    return pd.DataFrame(
        {
            "event_type": [str(pdf["event_type"].iloc[0])],
            "n_hours": [n],
            "level": [round(level, 6)],
            "trend": [round(trend, 6)],
            "forecast_next": [round(level + trend, 6)],
            "sse": [round(sse, 6)],
        }
    )


def events_holt_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend (double exponential) smoothing per event type
    over the hourly count series — the second sequential-recursion
    certification next to events_cusum_pandas: level AND trend each
    depend on the previous smoothed state, so no window frame expresses
    it; ``applyInPandas`` is the legitimate Python row path for
    per-entity imperative state.

    alpha = 0.5, beta = 0.3 (both written as the same double literal on
    both engines); the one-step-ahead SSE accumulates INSIDE the same
    fold, so even the error sum is order-pinned.  The DuckDB twin
    replays the identical recursion as a recursive CTE over row-numbered
    hours; the driver hash-compares the float recursion bit-for-bit.

    Scale shape: the hourly pre-aggregate is the only full-data shuffle
    (raw events -> |types|x|hours| rows); the Arrow group fold is
    O(hours) per type with O(1) state.  Output: one row per event type
    (level / trend / one-step forecast / SSE)."""
    cnt = _hourly_counts(spark, sf_dir)
    return cnt.groupBy("event_type").applyInPandas(_holt_group, _HOLT_SCHEMA)


# ---------------------------------------------------------------------------
# Holt-Winters additive (triple exponential) smoothing via applyInPandas —
# the THIRD sequential-recursion certification, now with
# VECTOR state: level, trend, and a 24-slot seasonal array all depend on
# the previous smoothed state.
# ---------------------------------------------------------------------------

_HW_SCHEMA = (
    "event_type string, n_hours long, level double, trend double, "
    "forecast_next double, season_amplitude double, sse double"
)

_HW_M = 24
_HW_ALPHA = 0.4
_HW_BETA = 0.2
_HW_GAMMA = 0.3
# pinned complements (the Holt discipline): never 1.0-x at runtime
_HW_ALPHA_C = 0.6
_HW_BETA_C = 0.8
_HW_GAMMA_C = 0.7
assert _HW_ALPHA + _HW_ALPHA_C == 1.0
assert _HW_BETA + _HW_BETA_C == 1.0
assert _HW_GAMMA + _HW_GAMMA_C == 1.0


def _holt_winters_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Sequential additive Holt-Winters fold over one type's ordered
    hourly counts, season length 24 (hour-of-day).

    Init (documented, mirrored by the oracle): the first 24 observations
    seed level = their SEQUENTIALLY-accumulated mean (the fold order is
    part of the contract — a vectorized mean could differ in the last
    ulp), trend = 0, seasonal[i] = x_i - level.  From observation 25 on:
        pred = (l + b) + s_head;          sse += (x - pred)^2
        l' = (a*(x - s_head)) + ((1-a)*(l + b))
        b' = (g2*(l' - l)) + ((1-g2)*b)
        s  = shift(s) ++ [(g*(x - l')) + ((1-g)*s_head)]
    Types with fewer than 25 hours emit nothing (init never completes)."""
    pdf = pdf.sort_values("hr")
    xs: list[float] = []
    acc = 0.0
    level = 0.0
    trend = 0.0
    season: list[float] = []
    sse = 0.0
    n = 0
    for x in pdf["c"]:
        x = float(x)
        n += 1
        if n <= _HW_M - 1:
            xs.append(x)
            acc = acc + x
            continue
        if n == _HW_M:
            xs.append(x)
            acc = acc + x
            level = acc / 24.0
            trend = 0.0
            season = [v - level for v in xs]
            continue
        s_head = season[0]
        pred = (level + trend) + s_head
        err = x - pred
        sse = sse + (err * err)
        l_new = (_HW_ALPHA * (x - s_head)) + (_HW_ALPHA_C * (level + trend))
        trend = (_HW_BETA * (l_new - level)) + (_HW_BETA_C * trend)
        season = season[1:] + [(_HW_GAMMA * (x - l_new)) + (_HW_GAMMA_C * s_head)]
        level = l_new
    if n < _HW_M + 1:
        return pd.DataFrame(
            {c.split(" ")[0]: [] for c in _HW_SCHEMA.split(", ")}
        )
    return pd.DataFrame(
        {
            "event_type": [str(pdf["event_type"].iloc[0])],
            "n_hours": [n],
            "level": [round(level, 6)],
            "trend": [round(trend, 6)],
            "forecast_next": [round((level + trend) + season[0], 6)],
            "season_amplitude": [round(max(season) - min(season), 6)],
            "sse": [round(sse, 6)],
        }
    )


def events_holt_winters_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive smoothing per event type over the hourly
    count series — the third sequential-recursion certification
    (CUSUM: scalar state; Holt: level+trend; this: level+trend+a 24-slot
    seasonal VECTOR, the state no window frame or matrix trick can
    express).  The DuckDB twin replays the identical recursion carrying
    the seasonal array as a DOUBLE[] list column through a recursive
    CTE — shift = s[2:] list_append — and the driver hash-compares the
    float recursion bit-for-bit, including the sequentially-accumulated
    init mean.

    Scale shape: identical to Holt — one full-data shuffle to the
    |types| x |hours| rollup, then an O(hours) Arrow fold with O(m)
    state per type."""
    cnt = _hourly_counts(spark, sf_dir)
    return cnt.groupBy("event_type").applyInPandas(
        _holt_winters_group, _HW_SCHEMA
    )


# ---------------------------------------------------------------------------
# Kalman local-level filter via applyInPandas — the FOURTH
# sequential-recursion certification, and the first with a TIME-VARYING
# gain: K_t = P/(P+R) changes every step, so unlike CUSUM/Holt/HW the
# recursion is not a fixed linear fold.
# ---------------------------------------------------------------------------

_KALMAN_SCHEMA = (
    "event_type string, n_hours long, level double, variance double, "
    "gain_last double, innovation_ssq double"
)

_KALMAN_Q = 4.0    # process noise (counts/hour drift)
_KALMAN_R = 25.0   # observation noise


def _kalman_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Sequential local-level Kalman fold over one type's ordered hourly
    counts.  Init: level = x_1, P = R.  Per step:
        P_pred = P + Q;  K = P_pred / (P_pred + R)
        innov = x - level;  issq += innov^2
        level = level + (K * innov);  P = (1.0 - K) * P_pred
    (1.0 - K) is computed at runtime in BOTH engines — identical
    expression, identical operand, so it is still bit-pinned; the
    complement-literal trick is impossible here because K is data-
    dependent, which is exactly what this certification adds."""
    pdf = pdf.sort_values("hr")
    level = None
    p = _KALMAN_R
    k = 0.0
    issq = 0.0
    n = 0
    for x in pdf["c"]:
        x = float(x)
        n += 1
        if level is None:
            level = x
            continue
        p_pred = p + _KALMAN_Q
        k = p_pred / (p_pred + _KALMAN_R)
        innov = x - level
        issq = issq + (innov * innov)
        level = level + (k * innov)
        p = (1.0 - k) * p_pred
    return pd.DataFrame(
        {
            "event_type": [str(pdf["event_type"].iloc[0])],
            "n_hours": [n],
            "level": [round(level, 6)],
            "variance": [round(p, 6)],
            "gain_last": [round(k, 6)],
            "innovation_ssq": [round(issq, 6)],
        }
    )


def events_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman local-level filter per event type over hourly counts —
    the online denoiser/nowcaster (the steady-state gain it converges to
    IS the optimal EMA alpha for this noise ratio), and the fourth
    sequential-recursion certification: the gain K_t = P/(P+R) is
    DATA-INDEPENDENT but STEP-VARYING, so the fold is a nonstationary
    recursion no closed form or window replaces.  The DuckDB twin
    replays it in a recursive CTE; the driver hash-compares level,
    posterior variance, final gain, and the innovation sum of squares
    bit-for-bit.

    Scale shape: the Holt family's — one shuffle to the hourly rollup,
    O(hours) Arrow fold, O(1) state per type."""
    cnt = _hourly_counts(spark, sf_dir)
    return cnt.groupBy("event_type").applyInPandas(_kalman_group, _KALMAN_SCHEMA)


# ---------------------------------------------------------------------------
# EWMA fast/slow crossover via applyInPandas — the FIFTH
# sequential-recursion certification: two coupled exponential folds plus a
# sign-state crossing counter, none expressible as a window frame.
# ---------------------------------------------------------------------------

_EWMA_SCHEMA = (
    "event_type string, n_hours long, ewma_fast double, ewma_slow double, "
    "n_crossings long"
)

_EWMA_FAST = 0.4
_EWMA_SLOW = 0.1
# pinned complements (the Holt discipline): never 1.0-x at runtime
_EWMA_FAST_C = 0.6
_EWMA_SLOW_C = 0.9
assert _EWMA_FAST + _EWMA_FAST_C == 1.0
assert _EWMA_SLOW + _EWMA_SLOW_C == 1.0


def _ewma_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Sequential dual-EWMA fold over one type's ordered hourly counts.

    Init f_1 = s_1 = x_1.  Arithmetic order pins to the oracle exactly:
        f' = (0.4*x) + (0.6*f);  s' = (0.1*x) + (0.9*s)
    A crossing is a strict sign flip of (f - s): zero-sign hours carry
    the previous sign forward (no double-count on touch-and-go)."""
    pdf = pdf.sort_values("hr")
    f = s = None
    prev_sign = 0
    n = 0
    crossings = 0
    for x in pdf["c"]:
        x = float(x)
        n += 1
        if f is None:
            f = s = x
            continue
        f = (_EWMA_FAST * x) + (_EWMA_FAST_C * f)
        s = (_EWMA_SLOW * x) + (_EWMA_SLOW_C * s)
        sign = 1 if f > s else (-1 if f < s else 0)
        if sign != 0:
            if prev_sign != 0 and sign != prev_sign:
                crossings += 1
            prev_sign = sign
    return pd.DataFrame(
        {
            "event_type": [pdf["event_type"].iloc[0]],
            "n_hours": [n],
            "ewma_fast": [round(f, 6) if f is not None else None],
            "ewma_slow": [round(s, 6) if s is not None else None],
            "n_crossings": [crossings],
        }
    )


def events_ewma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast/slow EWMA crossover detector per event type over the hourly
    count series — the trading-style trend-change signal, and the FIFTH
    sequential-recursion certification (after CUSUM, Holt, Holt-Winters,
    Kalman): two coupled exponential folds plus a sign-memory crossing
    counter that no window frame expresses.

    The DuckDB twin replays the identical recursion as a recursive CTE
    (f, s, prev_sign, crossings all recursion columns); the driver
    hash-compares the float recursion bit-for-bit.

    Scale shape: hourly pre-aggregate is the only full-data shuffle; the
    Arrow group fold is O(hours) per type with O(1) state."""
    cnt = _hourly_counts(spark, sf_dir)
    return cnt.groupBy("event_type").applyInPandas(_ewma_group, _EWMA_SCHEMA)


# ---------------------------------------------------------------------------
# Page-Hinkley drift detector via applyInPandas — the SIXTH
# sequential-recursion certification: cumulative deviation with a running
# minimum and an alarm latch.
# ---------------------------------------------------------------------------

_PH_SCHEMA = (
    "event_type string, n_hours long, m_final double, m_min double, "
    "ph_stat double, n_alarms long, first_alarm_at long"
)

_PH_DELTA = 0.5
_PH_LAMBDA = 50.0


def _ph_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Sequential Page-Hinkley fold over one type's ordered hourly counts
    against the type's own pre-computed mean (two-pass PH — the batch
    formulation; mu rides in as a constant column).

        m_t = m_{t-1} + (x_t - mu - delta);  M_t = min(M_{t-1}, m_t)
        alarm_t = (m_t - M_t > lambda)

    n_alarms counts alarmed hours; first_alarm_at is the 1-based hour
    index of the first alarm (0 = never)."""
    pdf = pdf.sort_values("hr")
    mu = float(pdf["mu"].iloc[0])
    m = 0.0
    m_min = 0.0
    n = 0
    n_alarms = 0
    first_alarm = 0
    for x in pdf["c"]:
        n += 1
        m = m + (float(x) - mu - _PH_DELTA)
        if m < m_min:
            m_min = m
        if (m - m_min) > _PH_LAMBDA:
            n_alarms += 1
            if first_alarm == 0:
                first_alarm = n
    return pd.DataFrame(
        {
            "event_type": [pdf["event_type"].iloc[0]],
            "n_hours": [n],
            "m_final": [round(m, 6)],
            "m_min": [round(m_min, 6)],
            "ph_stat": [round(m - m_min, 6)],
            "n_alarms": [n_alarms],
            "first_alarm_at": [first_alarm],
        }
    )


def events_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-drift detector per event type over hourly counts
    — the streaming-ML drift test (river/MOA ship it) in its two-pass
    batch form, and the SIXTH sequential-recursion certification: the
    cumulative deviation, its running minimum, and the alarm latch are
    all order-dependent state.

    mu is the type's own hourly mean rounded 6dp (one tiny aggregate
    broadcast back); delta=0.5 and lambda=50 are pinned literals on both
    engines.  The DuckDB twin replays the recursion as a recursive CTE.

    Scale shape: hourly rollup -> 5-row mean broadcast -> O(hours)
    Arrow fold per type with O(1) state."""
    cnt = _hourly_counts(spark, sf_dir)
    mu = cnt.groupBy("event_type").agg(
        F.round(F.sum("c") / F.count(F.lit(1)), 6).alias("mu")
    )
    return (
        cnt.join(F.broadcast(mu), "event_type")
        .groupBy("event_type")
        .applyInPandas(_ph_group, _PH_SCHEMA)
    )
