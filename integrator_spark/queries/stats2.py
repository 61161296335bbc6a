"""Third stats/ML-prep batch: user-lifecycle survival analysis,
distribution-drift scoring, supervised encodings, and consistent
sampling — the model-facing analytics a training-data pipeline runs on
top of the relational core.

Determinism notes (same rules as the rest of the repo):
- integer ratios are evaluated as ``CAST(int AS DOUBLE) / int`` on both
  engines — a single IEEE division of identical operands is
  bit-identical;
- anything that passes through libm (``ln``/``exp``) is rounded to 6
  decimals on both engines before comparison (last-ulp differences
  between java.lang.Math and glibc are ~1e-15 relative, far below the
  rounding grid);
- sums of doubles are either exact-decimal (`dsum` pattern) or sums of
  already-6-dp-rounded terms over a handful of rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.num import laplace_share, psi_term
from ..functions.text import tokens
from ..io import load_table, table_rows
from ..registry import register

#: events_outliers_mad routes to approx medians above this LOGICAL row
#: count: exact F.median whole-sorts each event_type group, which at
#: ~5 types means a few giant single-task sorts (measured sf10
#: exponent 0.57). Routing on parquet-footer row count (not on-disk
#: bytes) keeps the exact/approx decision invariant to codec, parquet
#: version, and partition layout — the same logical dataset always
#: takes the same path (r6 advisor). 3M rows keeps every committed
#: fixture (sf0.001-sf1, 1M events) on the exact, oracle-checked path
#: and routes sf10 (10M) to approx, matching the measured cutover.
_MAD_EXACT_MAX_ROWS = 3_000_000

# --------------------------------------------------------------------------
# Kaplan-Meier survival over user lifetimes
# --------------------------------------------------------------------------

_SURVIVAL_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         date_trunc('day', MIN(ts)) AS first_day,
         date_trunc('day', MAX(ts)) AS last_day
  FROM events WHERE value > 200 GROUP BY user_id
), pu AS (
  SELECT datediff('day', first_day, last_day) AS t,
         CASE WHEN datediff('day', last_day, MAX(last_day) OVER ()) >= 3
              THEN 1 ELSE 0 END AS died
  FROM per_user
), by_t AS (
  SELECT t,
         CAST(SUM(died) AS BIGINT) AS d,
         CAST(COUNT(*) - SUM(died) AS BIGINT) AS c
  FROM pu GROUP BY t
), km AS (
  SELECT t, d, c,
         CAST(SUM(d + c) OVER () AS BIGINT)
           - CAST(SUM(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           + d + c AS n_at_risk
  FROM by_t
), f AS (
  SELECT t, d, n_at_risk,
         ROUND(CAST(n_at_risk - d AS DOUBLE) / n_at_risk, 6) AS km_factor,
         ROUND(EXP(SUM(LN(GREATEST(
                     CAST(n_at_risk - d AS DOUBLE) / n_at_risk, 1e-300)))
                   OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
               6) AS survival
  FROM km
)
SELECT t, n_at_risk, d, km_factor, survival
FROM f WHERE d > 0
"""


@register("stats_survival", oracle=_SURVIVAL_ORACLE, tags=("stats", "survival"))
def stats_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of user lifetime (days between a
    user's first and last HIGH-VALUE event, value > 200). A user whose
    last such activity is >= 3 days before the observation horizon is
    an observed churn ("death"); later last-activity is right-censored.
    Classic product-limit estimator:
    S(t) = prod_{t' <= t} (1 - d_t'/n_t') over event times, with
    n_t = at-risk count (not yet churned or censored before t).

    The value filter is load-bearing for the FIXTURE, not the method:
    every fixture user's full event stream runs dense to the horizon,
    which would censor everyone and leave the KM math vacuously
    unverified; the thresholded stream is sparse (92/103 churns at
    sf0.01), so the oracle actually exercises at-risk accounting and
    the product chain. The GREATEST(..., 1e-300) guard keeps a
    factor-0 step (an all-deaths final group) identical on both
    engines: DuckDB's ln(0) hard-errors where Spark yields NULL;
    clamped, both produce survival 0 after rounding.

    Shape: one shuffle to per-user extents (|users| rows), one shuffle
    to per-lifetime counts (|distinct lifetimes| rows — tens), then
    ordered windows over that tiny frame. The observation horizon is
    derived as a window max over the per-user frame here so the fixture
    is self-contained; a production snapshot would pass it as a literal
    (removing even that window). The cumulative at-risk / survival
    windows run over |distinct lifetimes| rows regardless of fact size,
    so the plan is fixture-to-100 TB invariant.

    Censored-only lifetimes participate in the at-risk accounting (the
    windows run before the d > 0 filter) but emit no output row,
    matching the standard KM event-time table."""
    e = load_table(spark, sf_dir, "events").where(F.col("value") > 200)
    per_user = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day"),
        F.date_trunc("day", F.max("ts")).alias("last_day"))
    w_all = Window.partitionBy()
    # Horizon via the allowlisted 1-row broadcast frame, not an
    # empty-partition window over the |users| frame (round 11 — an
    # unordered global window still funnels every row through one
    # task).
    horizon = per_user.agg(F.max("last_day").alias("_horizon"))
    pu = (per_user.crossJoin(F.broadcast(horizon))
          .select(
              F.datediff("last_day", "first_day").cast("long").alias("t"),
              F.when(F.datediff(F.col("_horizon"),
                                F.col("last_day")) >= 3, 1)
              .otherwise(0).alias("died")))
    by_t = pu.groupBy("t").agg(
        F.sum("died").alias("d"),
        (F.count(F.lit(1)) - F.sum("died")).alias("c"))
    w_cum = (Window.orderBy("t")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    km = by_t.select(
        "t", "d", "c",
        (F.sum(F.col("d") + F.col("c")).over(w_all)
         - F.sum(F.col("d") + F.col("c")).over(w_cum)
         + F.col("d") + F.col("c")).alias("n_at_risk"))
    factor = (F.col("n_at_risk") - F.col("d")).cast("double") / F.col("n_at_risk")
    f = km.select(
        "t", "d", "n_at_risk",
        F.round(factor, 6).alias("km_factor"),
        F.round(F.exp(F.sum(F.log(F.greatest(factor, F.lit(1e-300))))
                      .over(w_cum)), 6).alias("survival"))
    return (f.where(F.col("d") > 0)
            .select("t", "n_at_risk", "d", "km_factor", "survival"))


# --------------------------------------------------------------------------
# Population stability index (feature-drift score)
# --------------------------------------------------------------------------

_PSI_ORACLE = """
WITH binned AS (
  SELECT least(CAST(floor(n_chars / 50) AS BIGINT), 9) AS bin,
         doc_id % 2 AS side
  FROM documents
), counts AS (
  SELECT bin,
         CAST(COUNT(*) FILTER (WHERE side = 0) AS BIGINT) AS n_ref,
         CAST(COUNT(*) FILTER (WHERE side = 1) AS BIGINT) AS n_cur
  FROM binned GROUP BY bin
), props AS (
  SELECT bin, n_ref, n_cur,
         (CAST(n_ref AS DOUBLE) + 0.5)
           / (CAST(SUM(n_ref) OVER () AS DOUBLE) + 5.0) AS p_ref,
         (CAST(n_cur AS DOUBLE) + 0.5)
           / (CAST(SUM(n_cur) OVER () AS DOUBLE) + 5.0) AS p_cur
  FROM counts
), terms AS (
  SELECT bin, n_ref, n_cur,
         ROUND((p_cur - p_ref) * LN(p_cur / p_ref), 6) AS psi_term
  FROM props
)
SELECT bin, n_ref, n_cur, psi_term,
       ROUND(SUM(psi_term) OVER (), 6) AS psi_total
FROM terms
"""


@register("stats_psi", oracle=_PSI_ORACLE, tags=("stats", "drift"))
def stats_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus snapshots — the
    standard pre-training drift gate ("did the length/quality
    distribution of the incoming crawl shift vs the reference
    corpus?"). Snapshots are simulated by doc_id parity; the feature is
    document length binned into 10 fixed-width buckets.

    PSI = sum over bins of (p_cur - p_ref) * ln(p_cur / p_ref), with
    Laplace smoothing (+0.5 per bin over +5.0 total) so an empty bin on
    one side contributes a finite term instead of ln(0). psi_total is
    the sum of the already-rounded per-bin terms over the 10-row frame
    (order effects ~1e-16, far under the 6-dp grid).

    Shape: one shuffle to per-(bin,side) counts — 20 rows no matter the
    corpus size — then windows over that constant frame; the scan is a
    2-column projection. Scales linearly; the comparison itself is
    O(bins)."""
    d = load_table(spark, sf_dir, "documents")
    binned = d.select(
        F.least(F.floor(F.col("n_chars") / 50), F.lit(9))
         .cast("long").alias("bin"),
        (F.col("doc_id") % 2).alias("side"))
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("side") == 0, 1)).alias("n_ref"),
        F.count(F.when(F.col("side") == 1, 1)).alias("n_cur"))
    w_all = Window.partitionBy()
    p_ref = laplace_share("n_ref", F.sum("n_ref").over(w_all), cells=10)
    p_cur = laplace_share("n_cur", F.sum("n_cur").over(w_all), cells=10)
    terms = counts.select(
        "bin", "n_ref", "n_cur",
        psi_term(p_cur, p_ref).alias("psi_term"))
    return terms.select(
        "bin", "n_ref", "n_cur", "psi_term",
        F.round(F.sum("psi_term").over(w_all), 6).alias("psi_total"))


# --------------------------------------------------------------------------
# Leave-one-out target encoding
# --------------------------------------------------------------------------

_TARGET_ENCODE_ORACLE = """
SELECT o_orderkey, o_orderpriority, loo_enc FROM (
  SELECT o_orderkey, o_orderpriority,
         ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w
                    - CAST(o_totalprice AS DECIMAL(38,6)) AS DOUBLE)
               / (COUNT(*) OVER w - 1), 6) AS loo_enc
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority)
)
WHERE o_orderkey % 199 = 0
"""


@register("ml_target_encode", oracle=_TARGET_ENCODE_ORACLE,
          tags=("ml", "encoding"))
def ml_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature
    (o_orderpriority) against a numeric target (o_totalprice): each
    row's encoding is the mean target of its category EXCLUDING the row
    itself — (sum_cat - y_i) / (n_cat - 1) — the standard
    leakage-free supervised encoding for tree/linear models.

    Exactness: the category sum is an exact DECIMAL(38,6) (money grid),
    the subtraction stays decimal, and only the final single division
    is floating — identical operands on both engines, rounded to 6 dp.

    Shape: one hash-partition window on the category key (same shuffle
    a groupBy would take — no extra pass for the per-row join-back that
    a naive agg-then-join plan would need). Output is thinned by a
    key-modulus AFTER the window so the fixture compare stays small;
    Catalyst correctly keeps the non-partition-key filter above the
    window. At 100 TB this is one shuffle of the fact on a
    low-cardinality key — pair with salting (see agg_salted) if the
    category distribution is hot."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    price_dec = F.col("o_totalprice").cast("decimal(38,6)")
    enc = ((F.sum(price_dec).over(w) - price_dec).cast("double")
           / (F.count(F.lit(1)).over(w) - 1))
    return (o.select("o_orderkey", "o_orderpriority",
                     F.round(enc, 6).alias("loo_enc"))
            .where(F.col("o_orderkey") % 199 == 0))


# --------------------------------------------------------------------------
# Feature hashing (hashing trick)
# --------------------------------------------------------------------------

_FEATURE_HASH_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id < 30
)
SELECT doc_id, substr(md5(tok), 1, 2) AS feat, COUNT(*) AS n
FROM tok WHERE length(tok) > 0
GROUP BY doc_id, feat
"""


@register("ml_feature_hash", oracle=_FEATURE_HASH_ORACLE,
          tags=("ml", "features"))
def ml_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: map an unbounded token vocabulary into a
    fixed 256-bucket feature space by hashing each token and keeping
    the first hash byte as the feature id, counting occurrences per
    (doc, feature) — the vocabulary-free sparse featurization used
    when a fitted dictionary is impossible at corpus scale.

    md5 is used because both engines implement it identically, making
    the bucket assignment oracle-checkable; a production pipeline on
    Spark alone would swap in ``xxhash64(tok) % n_buckets`` (cheaper,
    same plan). Everything is JVM codegen — explode, hash, substring,
    hash-agg — no Python.

    Shape: explode is pipelined (no shuffle), then one hash aggregation
    on (doc_id, feat). Per-doc fan-out is bounded by token count; the
    feature space is constant-width by construction, which is the whole
    point of the trick at 100 TB. The doc_id < 30 filter is
    fixture-size control and is pushed to the parquet scan."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 30)
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    return (tok.where(F.length("tok") > 0)
            .select("doc_id",
                    F.substring(F.md5(F.col("tok")), 1, 2).alias("feat"))
            .groupBy("doc_id", "feat")
            .agg(F.count(F.lit(1)).alias("n")))


# --------------------------------------------------------------------------
# Consistent (hash-threshold) sampling
# --------------------------------------------------------------------------

_SAMPLE_CONSISTENT_ORACLE = """
SELECT doc_id, lang, n_chars FROM documents
WHERE (doc_id * 2654435761 + 12345) % 1000000007 < 100000000
"""


@register("sample_consistent", oracle=_SAMPLE_CONSISTENT_ORACLE,
          tags=("sample",))
def sample_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent ~10% sample by key-hash threshold: keep a document
    iff an affine hash of its id falls under a fixed cutoff. Unlike
    ``df.sample()``, membership is a pure function of the key, so the
    sample is (a) reproducible across runs and engines, (b) stable
    under corpus growth — a document's in/out status never changes as
    neighbors arrive — and (c) joinable: sampling two tables with the
    same scheme on a shared key preserves join pairs. This is the
    sampling you want for longitudinal eval sets over a growing corpus.

    The multiplier is Knuth's 2654435761 (golden-ratio hashing); exact
    64-bit integer arithmetic on both engines (max |key * A| ~ 1.6e14
    per million keys — no overflow until ~3.5e9 keys; lift to 128-bit
    decimal beyond). The predicate is a pure row filter — pushed into
    the scan, no shuffle, embarrassingly parallel at any scale."""
    d = load_table(spark, sf_dir, "documents")
    u = (F.col("doc_id") * F.lit(2654435761) + F.lit(12345)) % F.lit(1000000007)
    return d.where(u < 100000000).select("doc_id", "lang", "n_chars")


# --------------------------------------------------------------------------
# Cohort lifetime value (cumulative revenue per cohort-age)
# --------------------------------------------------------------------------

_LTV_ORACLE = """
WITH first_seen AS (
  SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
  FROM events GROUP BY user_id
), sizes AS (
  SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM first_seen GROUP BY cohort_day
), by_age AS (
  SELECT f.cohort_day,
         datediff('day', f.cohort_day, date_trunc('day', e.ts)) AS age,
         CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users,
         SUM(CAST(e.value AS DECIMAL(38,6))) AS rev_dec
  FROM events e JOIN first_seen f USING (user_id)
  GROUP BY f.cohort_day, age
)
SELECT strftime(b.cohort_day, '%Y-%m-%d') AS cohort, b.age, s.cohort_size,
       b.active_users,
       ROUND(CAST(b.rev_dec AS DOUBLE), 6) AS revenue,
       ROUND(CAST(SUM(b.rev_dec) OVER (PARTITION BY b.cohort_day ORDER BY b.age
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
         AS cum_ltv,
       ROUND(CAST(SUM(b.rev_dec) OVER (PARTITION BY b.cohort_day ORDER BY b.age
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / s.cohort_size, 6) AS ltv_per_user
FROM by_age b JOIN sizes s USING (cohort_day)
"""


@register("events_ltv", oracle=_LTV_ORACLE, tags=("events", "cohort"))
def events_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users are cohorted by first-seen
    day, revenue is aggregated per (cohort, days-since-signup), and a
    per-cohort ordered window accumulates it into the LTV curve —
    cumulative and per-signup. The companion to events_retention
    (counts) on the revenue axis.

    Exactness: revenue sums are DECIMAL(38,6) end-to-end including the
    cumulative window (decimal addition is associative), cast to double
    only at the rounded output.

    Shape: one shuffle for first-seen (|users|), one shuffle-join of
    the fact to it on user_id, one aggregation to (cohort, age) —
    |days|^2/2 rows at most — and windows over that tiny frame. The
    cohort-size dimension joins broadcast. At 100 TB the only big moves
    are the user_id join and the (cohort, age) agg, both
    map-side-combinable."""
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    sizes = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    by_age = (e.join(first, "user_id")
              .groupBy("cohort_day",
                       F.datediff(F.date_trunc("day", "ts"), "cohort_day")
                        .cast("long").alias("age"))
              .agg(F.countDistinct("user_id").alias("active_users"),
                   F.sum(F.col("value").cast("decimal(38,6)"))
                    .alias("rev_dec")))
    w = (Window.partitionBy("cohort_day").orderBy("age")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum("rev_dec").over(w)
    return (by_age.join(F.broadcast(sizes), "cohort_day")
            .select(F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
                    "age", "cohort_size", "active_users",
                    F.round(F.col("rev_dec").cast("double"), 6)
                     .alias("revenue"),
                    F.round(cum.cast("double"), 6).alias("cum_ltv"),
                    F.round(cum.cast("double") / F.col("cohort_size"), 6)
                     .alias("ltv_per_user")))


# --------------------------------------------------------------------------
# Gini concentration coefficient
# --------------------------------------------------------------------------

_GINI_ORACLE = """
WITH per_user AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(38,6))) AS x_dec
  FROM events GROUP BY user_id
), ranked AS (
  SELECT x_dec,
         ROW_NUMBER() OVER (ORDER BY x_dec, user_id) AS r
  FROM per_user
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(x_dec) AS DOUBLE), 6) AS total_value,
       ROUND(2.0 * CAST(SUM(r * x_dec) AS DOUBLE)
               / (COUNT(*) * CAST(SUM(x_dec) AS DOUBLE))
             - CAST(COUNT(*) + 1 AS DOUBLE) / COUNT(*), 6) AS gini
FROM ranked
"""


@register("stats_gini", oracle=_GINI_ORACLE, tags=("stats",))
def stats_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event value — "how concentrated is
    engagement/revenue across users", the whale-detection summary every
    usage pipeline reports. Uses the rank identity
    G = 2*sum(r_i x_i) / (n * sum(x_i)) - (n+1)/n over ascending-sorted
    values, which needs only one ordered rank and exact sums — no
    pairwise |x_i - x_j| scan.

    Ties are broken by user_id in BOTH engines so ROW_NUMBER is
    deterministic (equal x values swap equal ranks — G is invariant —
    but the determinism contract wants identical intermediates).
    x and r*x stay DECIMAL until the final two divisions of identical
    operands. One shuffle to per-user sums; the rank is the
    RANGE-PARTITIONED two-phase prefix count over (x_dec, user_id)
    (operators/prefix.py, round 11) — value-identical to ROW_NUMBER
    under the same total order, with no |users|-sized single-task
    window."""
    from ..operators.prefix import ordered_prefix_sums

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(38,6)")).alias("x_dec"))
    ranked = ordered_prefix_sums(
        per_user, ["x_dec", "user_id"],
        {"r": F.lit(1)}).select("x_dec", "r")
    n = F.count(F.lit(1))
    sum_x = F.sum("x_dec").cast("double")
    sum_rx = F.sum(F.col("r") * F.col("x_dec")).cast("double")
    return ranked.agg(
        n.alias("n_users"),
        F.round(sum_x, 6).alias("total_value"),
        F.round(F.lit(2.0) * sum_rx / (n * sum_x)
                - (n + 1).cast("double") / n, 6).alias("gini"))


# --------------------------------------------------------------------------
# CUSUM change-point detection on the daily mean
# --------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
           AS mean_raw
  FROM events GROUP BY day
), centered AS (
  SELECT day, n_events, mean_raw,
         CAST(ROUND(mean_raw
                    - CAST(SUM(CAST(ROUND(mean_raw, 6) AS DECIMAL(38,6)))
                           OVER () AS DOUBLE) / COUNT(*) OVER (), 6)
              AS DECIMAL(38,6)) AS dev_dec
  FROM daily
)
SELECT day, n_events, ROUND(mean_raw, 6) AS daily_mean,
       ROUND(CAST(SUM(dev_dec) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
         AS cusum
FROM centered
"""


@register("events_cusum", oracle=_CUSUM_ORACLE, tags=("events", "anomaly"))
def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point track over the daily mean event value: the
    running sum of (daily mean - grand mean of daily means). A level
    shift in the metric shows as a sustained slope change; monitoring
    pipelines alarm on |cusum| crossing a threshold. Completes the
    anomaly family next to events_outliers (pointwise z-scores).

    Determinism: the cumulative sum of doubles is the classic
    order-dependence trap — both engines may add in different orders.
    Deviations are therefore rounded to the 6-dp grid and cast to
    DECIMAL before accumulation, making the running sum exact and
    order-free. The grand mean itself is an exact-decimal sum divided
    once.

    Shape: one map-side-combinable aggregation to |days| rows, then
    windows over that constant-size frame. Fact-scale work is one
    scan + one shuffle regardless of data size."""
    e = load_table(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_format(F.date_trunc("day", "ts"),
                                     "yyyy-MM-dd").alias("day"))
             .agg(F.count(F.lit(1)).alias("n_events"),
                  (F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
                   / F.count(F.lit(1))).alias("mean_raw")))
    w_all = Window.partitionBy()
    grand = (F.sum(F.round(F.col("mean_raw"), 6).cast("decimal(38,6)"))
             .over(w_all).cast("double") / F.count(F.lit(1)).over(w_all))
    centered = daily.select(
        "day", "n_events", "mean_raw",
        F.round(F.col("mean_raw") - grand, 6).cast("decimal(38,6)")
         .alias("dev_dec"))
    w_cum = (Window.orderBy("day")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return centered.select(
        "day", "n_events",
        F.round("mean_raw", 6).alias("daily_mean"),
        F.round(F.sum("dev_dec").over(w_cum).cast("double"), 6)
         .alias("cusum"))


# --------------------------------------------------------------------------
# Model calibration (reliability table) + exact AUC
# --------------------------------------------------------------------------

_CALIBRATION_ORACLE = """
WITH scored AS (
  SELECT 1.0 / (1.0 + EXP(-(o_totalprice / 100000.0 - 1.5))) AS score,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
  FROM orders
)
SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(label) AS BIGINT) AS n_pos,
       ROUND(CAST(SUM(CAST(ROUND(score, 6) AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_score,
       ROUND(CAST(SUM(label) AS DOUBLE) / COUNT(*), 6) AS pos_rate
FROM scored GROUP BY bucket
"""


@register("ml_calibration", oracle=_CALIBRATION_ORACLE, tags=("ml", "eval"))
def ml_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for a probabilistic classifier: bucket
    predictions into score deciles and compare the mean predicted
    probability against the observed positive rate per bucket — the
    calibration curve behind ECE/reliability diagrams. The "model" is a
    fixed logistic score over o_totalprice with o_orderstatus='F' as
    the label, standing in for any scored table.

    Score averages sum 6-dp-rounded scores as DECIMAL (exact), then
    divide once; rates are single integer-ratio divisions. The sigmoid
    passes through libm exp — bucket assignment is stable because
    adjacent distinct inputs differ by >= 1e-7 in z, dwarfing cross-
    engine exp ulps.

    Shape: pure scan -> hash-agg on a 10-value key; fully
    map-side-combinable, no window, no join. Scales trivially."""
    o = load_table(spark, sf_dir, "orders")
    score = F.lit(1.0) / (F.lit(1.0)
                          + F.exp(-(F.col("o_totalprice") / F.lit(100000.0)
                                    - F.lit(1.5))))
    label = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    scored = o.select(score.alias("score"), label.alias("label"))
    return (scored
            .groupBy(F.least(F.floor(F.col("score") * 10), F.lit(9))
                     .cast("long").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("label").alias("n_pos"),
                 F.round(F.sum(F.round(F.col("score"), 6)
                               .cast("decimal(38,6)")).cast("double")
                         / F.count(F.lit(1)), 6).alias("avg_score"),
                 F.round(F.sum("label").cast("double")
                         / F.count(F.lit(1)), 6).alias("pos_rate")))


_AUC_ORACLE = """
WITH scored AS (
  SELECT o_totalprice AS s,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
  FROM orders
), by_s AS (
  SELECT s,
         CAST(SUM(label) AS BIGINT) AS c_pos,
         CAST(COUNT(*) AS BIGINT) AS c_tot
  FROM scored GROUP BY s
), ranked AS (
  SELECT c_pos, c_tot,
         SUM(c_tot) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM by_s
)
SELECT CAST(SUM(c_tot) - SUM(c_pos) AS BIGINT) AS n_neg,
       CAST(SUM(c_pos) AS BIGINT) AS n_pos,
       ROUND((CAST(SUM(c_pos * (2 * cum - c_tot + 1)) AS DOUBLE)
              - CAST(SUM(c_pos) AS DOUBLE) * (SUM(c_pos) + 1))
             / (2.0 * (SUM(c_tot) - SUM(c_pos)) * SUM(c_pos)), 6) AS auc
FROM ranked
"""


@register("ml_auc", oracle=_AUC_ORACLE, tags=("ml", "eval"))
def ml_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC via the rank-sum (Mann-Whitney U) identity:
    AUC = (R_pos - n1(n1+1)/2) / (n0*n1) with midrank tie handling.
    Ranks by the RAW monotone score input (o_totalprice) rather than
    the sigmoid — AUC is invariant under monotone transforms, and
    ranking grid doubles sidesteps libm entirely, so the whole statistic
    is exact integer arithmetic until one final division.

    Tie groups are aggregated first (one shuffle on the score), and
    the cumulative runs through the RANGE-PARTITIONED two-phase
    prefix sum (operators/prefix.py, round 11): within-bucket
    partitioned windows + a constant-n_buckets offset frame — the
    shape that holds at |distinct scores| = billions, value-identical
    because the summands are exact integers. The doubled midrank
    2R = 2*cum - c_tot + 1 keeps everything integral."""
    from ..operators.prefix import ordered_prefix_sums

    o = load_table(spark, sf_dir, "orders")
    by_s = (o.select(F.col("o_totalprice").alias("s"),
                     F.when(F.col("o_orderstatus") == "F", 1)
                      .otherwise(0).alias("label"))
            .groupBy("s")
            .agg(F.sum("label").alias("c_pos"),
                 F.count(F.lit(1)).alias("c_tot")))
    ranked = ordered_prefix_sums(
        by_s, ["s"], {"cum": F.col("c_tot")}).select(
        "c_pos", "c_tot", "cum")
    n_pos = F.sum("c_pos")
    n_neg = F.sum("c_tot") - n_pos
    two_r = F.sum(F.col("c_pos") * (2 * F.col("cum") - F.col("c_tot") + 1))
    return ranked.agg(
        n_neg.alias("n_neg"), n_pos.alias("n_pos"),
        F.round((two_r.cast("double") - n_pos.cast("double") * (n_pos + 1))
                / (F.lit(2.0) * n_neg * n_pos), 6).alias("auc"))


# --------------------------------------------------------------------------
# Weighted median
# --------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH by_v AS (
  SELECT l_returnflag AS flag, l_extendedprice AS v,
         SUM(CAST(l_quantity AS DECIMAL(38,6))) AS w
  FROM lineitem GROUP BY flag, v
), cum AS (
  SELECT flag, v,
         SUM(w) OVER (PARTITION BY flag ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w_cum,
         SUM(w) OVER (PARTITION BY flag) AS w_tot
  FROM by_v
)
SELECT flag, MIN(v) AS weighted_median
FROM cum WHERE 2 * w_cum >= w_tot
GROUP BY flag
"""


@register("agg_weighted_median", oracle=_WMEDIAN_ORACLE,
          tags=("agg", "percentile"))
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (lower) of price weighted by quantity, per
    return flag: the smallest value whose cumulative weight reaches
    half the group total. Spark has percentile for unweighted data but
    no weighted quantile; this builds it from the cumulative-weight
    definition with DECIMAL-exact weights, so the answer is exact on
    both engines — no interpolation, no float threshold (the ADVICE
    r4 percentile-ulp trap doesn't apply).

    Shape: duplicate values collapse FIRST (groupBy flag+value — the
    heavy, map-side-combinable shuffle), then the cumulative window
    runs per flag over |distinct values| rows. At 100 TB a
    full-precision value column would make that window wide; the
    production variant bins values to a grid first (same plan as
    ml_quantile_bins) — for grid-valued money columns like this one the
    distinct collapse IS that binning."""
    li = load_table(spark, sf_dir, "lineitem")
    by_v = (li.groupBy(F.col("l_returnflag").alias("flag"),
                       F.col("l_extendedprice").alias("v"))
            .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)"))
                 .alias("w")))
    w_cum = (Window.partitionBy("flag").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = by_v.select(
        "flag", "v",
        F.sum("w").over(w_cum).alias("w_cum"),
        F.sum("w").over(Window.partitionBy("flag")).alias("w_tot"))
    return (cum.where(2 * F.col("w_cum") >= F.col("w_tot"))
            .groupBy("flag").agg(F.min("v").alias("weighted_median")))


# --------------------------------------------------------------------------
# Inverted index (posting lists)
# --------------------------------------------------------------------------

_INVINDEX_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE doc_id < 100
  ) WHERE length(tok) > 0
)
SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM tok GROUP BY tok HAVING COUNT(*) >= 3
"""


@register("text_inverted_index", oracle=_INVINDEX_ORACLE,
          tags=("text", "index"))
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — token -> sorted posting list of
    documents containing it, with document frequency. The core build
    step of any search/retrieval layer over the corpus; also the
    candidate structure behind dedup_ngram's shingle join.

    Postings are rendered as a comma-joined sorted string so the
    cross-engine compare is on canonical text (array columns stringify
    differently in the two clients). df >= 3 bounds the output to
    index-worthy terms; the doc_id < 100 filter is fixture-size
    control, pushed to the scan.

    Shape: explode is pipelined; the (doc, token) distinct and the
    token groupBy are the two shuffles — both map-side combinable. At
    100 TB posting lists for stop-word-frequency tokens become hot
    keys; the production build shards them (token, doc_range) exactly
    like dedup_ngram_guarded's hot-shingle cutoff."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    tok = (d.select("doc_id",
                    F.explode(F.split(F.col("text"), " ")).alias("tok"))
           .where(F.length("tok") > 0)
           .distinct())
    return (tok.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.array_join(F.sort_array(F.collect_set("doc_id")), ",")
                  .alias("postings"))
            .where(F.col("df") >= 3))


# --------------------------------------------------------------------------
# PMI co-occurrence (embedding-prep statistics)
# --------------------------------------------------------------------------

_PMI_MIN_PAIRS = 8

_PMI_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE doc_id < 200
  ) WHERE length(tok) > 0
), df AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY tok
), n_docs AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tok
), pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY tok_a, tok_b HAVING COUNT(*) >= {_PMI_MIN_PAIRS}
)
SELECT p.tok_a, p.tok_b, p.n_ab,
       ROUND(LN(CAST(p.n_ab AS DOUBLE) * (SELECT n FROM n_docs)
                / (CAST(da.n AS DOUBLE) * db.n)), 6) AS pmi
FROM pairs p
JOIN df da ON p.tok_a = da.tok
JOIN df db ON p.tok_b = db.tok
"""


@register("text_pmi", oracle=_PMI_ORACLE, tags=("text", "cooccurrence"))
def text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level token
    co-occurrence: PMI(a,b) = ln(P(a,b) / (P(a)P(b))) with document
    counts as the probability estimates — the statistic word-embedding
    and collocation pipelines precompute (an SPPMI matrix is this,
    shifted). A support floor (_PMI_MIN_PAIRS) keeps only stable pairs.

    Shape: the pair generation is a self-equi-join on doc_id — the
    fan-out is tokens-per-doc squared per document (bounded by document
    length, same bound as basket_rules), never corpus-quadratic. The
    token-frequency dimension joins back broadcast. The corpus size N
    rides a 1-row broadcast frame (allowlisted). PMI passes through
    libm ln once, rounded to 6 dp on identical integer-ratio operands.

    At 100 TB the hot-token problem reappears exactly as in
    dedup_ngram; the guarded variant's document-frequency cutoff
    (operators/dedup.py) applies unchanged — here the support floor
    plays that role at fixture scale."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    tok = (d.select("doc_id",
                    F.explode(F.split(F.col("text"), " ")).alias("tok"))
           .where(F.length("tok") > 0)
           .distinct())
    df = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    n_docs = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    a, b = tok.alias("a"), tok.alias("b")
    pairs = (a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
                    & (F.col("a.tok") < F.col("b.tok")))
             .groupBy(F.col("a.tok").alias("tok_a"),
                      F.col("b.tok").alias("tok_b"))
             .agg(F.count(F.lit(1)).alias("n_ab"))
             .where(F.col("n_ab") >= _PMI_MIN_PAIRS))
    da = df.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a"))
    db = df.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b"))
    return (pairs.join(F.broadcast(da), "tok_a")
            .join(F.broadcast(db), "tok_b")
            .crossJoin(F.broadcast(n_docs))
            .select("tok_a", "tok_b", "n_ab",
                    F.round(F.log(F.col("n_ab").cast("double")
                                  * F.col("n_docs")
                                  / (F.col("n_a").cast("double")
                                     * F.col("n_b"))), 6).alias("pmi")))


# --------------------------------------------------------------------------
# Dunning log-likelihood collocations (robust PMI companion)
# --------------------------------------------------------------------------

_LLR_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE doc_id < 200
  ) WHERE length(tok) > 0
), df AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY tok
), n_docs AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM tok
), pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY tok_a, tok_b HAVING COUNT(*) >= {_PMI_MIN_PAIRS}
), cells AS (
  SELECT p.tok_a, p.tok_b, p.n_ab, da.n AS n_a, db.n AS n_b,
         (SELECT nd FROM n_docs) AS nd
  FROM pairs p
  JOIN df da ON p.tok_a = da.tok
  JOIN df db ON p.tok_b = db.tok
)
SELECT tok_a, tok_b, n_ab,
       ROUND(2.0 * (
         (CASE WHEN n_ab > 0 THEN n_ab * LN(CAST(n_ab AS DOUBLE) * nd
              / (CAST(n_a AS DOUBLE) * n_b)) ELSE 0 END)
       + (CASE WHEN n_a - n_ab > 0 THEN (n_a - n_ab)
              * LN(CAST(n_a - n_ab AS DOUBLE) * nd
                   / (CAST(n_a AS DOUBLE) * (nd - n_b))) ELSE 0 END)
       + (CASE WHEN n_b - n_ab > 0 THEN (n_b - n_ab)
              * LN(CAST(n_b - n_ab AS DOUBLE) * nd
                   / (CAST(nd - n_a AS DOUBLE) * n_b)) ELSE 0 END)
       + (CASE WHEN nd - n_a - n_b + n_ab > 0 THEN (nd - n_a - n_b + n_ab)
              * LN(CAST(nd - n_a - n_b + n_ab AS DOUBLE) * nd
                   / (CAST(nd - n_a AS DOUBLE) * (nd - n_b))) ELSE 0 END)
       ), 6) AS llr
FROM cells
"""


@register("text_collocation_llr", oracle=_LLR_ORACLE,
          tags=("text", "cooccurrence"))
def text_collocation_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio collocation score over the same
    document-level co-occurrence counts as text_pmi — the G^2 statistic
    over the pair's 2x2 contingency table. Where PMI overweights rare
    pairs (two hapaxes co-occurring once score maximal PMI), LLR prices
    the evidence mass, making it the ranking of choice for collocation
    extraction and phrase induction at corpus scale.

    Each cell term k * ln(k*N / (row*col)) is guarded to 0 at k = 0 on
    both engines; operands are identical integer ratios, one ln per
    cell, rounded at 6 dp. Plan shape is text_pmi's: per-doc-bounded
    pair join, broadcast frequency dims, 1-row corpus frame
    (allowlisted)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    tok = (d.select("doc_id",
                    F.explode(F.split(F.col("text"), " ")).alias("tok"))
           .where(F.length("tok") > 0)
           .distinct())
    df = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    nd_frame = tok.agg(F.countDistinct("doc_id").alias("nd"))
    a, b = tok.alias("a"), tok.alias("b")
    pairs = (a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
                    & (F.col("a.tok") < F.col("b.tok")))
             .groupBy(F.col("a.tok").alias("tok_a"),
                      F.col("b.tok").alias("tok_b"))
             .agg(F.count(F.lit(1)).alias("n_ab"))
             .where(F.col("n_ab") >= _PMI_MIN_PAIRS))
    cells = (pairs
             .join(F.broadcast(df.select(F.col("tok").alias("tok_a"),
                                         F.col("n").alias("n_a"))), "tok_a")
             .join(F.broadcast(df.select(F.col("tok").alias("tok_b"),
                                         F.col("n").alias("n_b"))), "tok_b")
             .crossJoin(F.broadcast(nd_frame)))

    def term(k, row, col):
        return F.when(k > 0, k * F.log(k.cast("double") * F.col("nd")
                                       / (row.cast("double") * col))
                      ).otherwise(F.lit(0.0))

    n_ab, n_a, n_b = F.col("n_ab"), F.col("n_a"), F.col("n_b")
    nd = F.col("nd")
    llr = F.lit(2.0) * (
        term(n_ab, n_a, n_b)
        + term(n_a - n_ab, n_a, nd - n_b)
        + term(n_b - n_ab, nd - n_a, n_b)
        + term(nd - n_a - n_b + n_ab, nd - n_a, nd - n_b))
    return cells.select("tok_a", "tok_b", "n_ab",
                        F.round(llr, 6).alias("llr"))


# --------------------------------------------------------------------------
# Classifier eval: confusion matrix + decile lift
# --------------------------------------------------------------------------

_CONFUSION_ORACLE = """
WITH scored AS (
  SELECT CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END AS pred,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
  FROM orders
), m AS (
  SELECT CAST(SUM(pred * label) AS BIGINT) AS tp,
         CAST(SUM(pred * (1 - label)) AS BIGINT) AS fp,
         CAST(SUM((1 - pred) * label) AS BIGINT) AS fn,
         CAST(SUM((1 - pred) * (1 - label)) AS BIGINT) AS tn
  FROM scored
)
SELECT tp, fp, fn, tn,
       ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
       ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
       ROUND(2.0 * (CAST(tp AS DOUBLE) / (tp + fp))
                 * (CAST(tp AS DOUBLE) / (tp + fn))
             / (CAST(tp AS DOUBLE) / (tp + fp)
                + CAST(tp AS DOUBLE) / (tp + fn)), 6) AS f1,
       ROUND(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy
FROM m
"""


@register("ml_confusion", oracle=_CONFUSION_ORACLE, tags=("ml", "eval"))
def ml_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix and the derived precision / recall / F1 /
    accuracy at the decision threshold 0.5 for the same fixed logistic
    model as ml_calibration. sigmoid(z) > 0.5 iff z > 0, so the
    predicate compares the RAW feature against the grid constant
    150000.0 — no libm in the decision, making the matrix exact
    integer counts; every metric is then a single division (or two)
    of identical operands, rounded at 6 dp.

    Shape: a one-pass map-side-combinable global aggregation — four
    conditional counts over the scan. The canonical cheap eval at any
    scale."""
    o = load_table(spark, sf_dir, "orders")
    pred = F.when(F.col("o_totalprice") > 150000.0, 1).otherwise(0)
    label = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    scored = o.select(pred.alias("pred"), label.alias("label"))
    m = scored.agg(
        F.sum(F.col("pred") * F.col("label")).alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("label"))).alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("label")).alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("label"))).alias("tn"))
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    prec = tp.cast("double") / (tp + fp)
    rec = tp.cast("double") / (tp + fn)
    return m.select(
        "tp", "fp", "fn", "tn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(F.lit(2.0) * prec * rec / (prec + rec), 6).alias("f1"),
        F.round((tp + tn).cast("double") / (tp + fp + fn + tn), 6)
         .alias("accuracy"))


_LIFT_ORACLE = """
WITH by_s AS (
  SELECT o_totalprice AS s,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_pos,
         CAST(COUNT(*) AS BIGINT) AS c_tot
  FROM orders GROUP BY s
), ranked AS (
  SELECT c_pos, c_tot,
         CAST(SUM(c_tot) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(c_tot) OVER () AS BIGINT) AS n_all
  FROM by_s
), by_d AS (
  SELECT CAST(CEIL(CAST(cum * 10 AS DOUBLE) / n_all) AS BIGINT) AS decile,
         CAST(SUM(c_tot) AS BIGINT) AS n,
         CAST(SUM(c_pos) AS BIGINT) AS n_pos
  FROM ranked GROUP BY 1
), cum AS (
  SELECT decile, n, n_pos,
         CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
         CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
         CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
         CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos
  FROM by_d
  WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT decile, n, n_pos,
       ROUND(CAST(cum_pos AS DOUBLE) / tot_pos, 6) AS gain,
       ROUND((CAST(cum_pos AS DOUBLE) / cum_n)
             / (CAST(tot_pos AS DOUBLE) / tot_n), 6) AS cum_lift
FROM cum
"""


@register("ml_lift", oracle=_LIFT_ORACLE, tags=("ml", "eval"))
def ml_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift by score decile — "if we act on the
    top k/10 of model scores, what fraction of all positives do we
    capture, and at what multiple of the base rate?" — the targeting
    chart behind campaign/routing decisions. Every metric is an exact
    integer ratio rounded once.

    Decile assignment deliberately avoids NTILE over raw rows: that is
    a full-row single-partition sort, and the sf1 measurement caught
    it as this pack's one superlinear step (scaling exponent 0.84,
    measured in round 5 (SCALING.md)) — the red flag the measured run
    exists to raise. Instead rows collapse into score tie-groups first
    (one map-side-combinable shuffle, the ml_auc skeleton), the
    cumulative count runs over the |distinct scores| frame, and each
    tie group lands wholly in decile ceil(10 * cum / n) — identical
    grouping on both engines with no per-row tiebreak needed (a tie
    group is never split, so bucket sizes flex by at most a tie
    group; on a near-unique score column they are within one row of
    NTILE's). Round 11: the |distinct scores| cumulative runs through
    the range-partitioned two-phase prefix sum (operators/prefix.py)
    and the grand total rides the allowlisted 1-row broadcast frame —
    only the bounded 10-row decile windows remain single-task."""
    from ..operators.prefix import ordered_prefix_sums

    o = load_table(spark, sf_dir, "orders")
    by_s = (o.select(F.col("o_totalprice").alias("s"),
                     F.when(F.col("o_orderstatus") == "F", 1)
                      .otherwise(0).alias("label"))
            .groupBy("s")
            .agg(F.sum("label").alias("c_pos"),
                 F.count(F.lit(1)).alias("c_tot")))
    tot = by_s.agg(F.sum("c_tot").alias("n_all"))
    ranked = (ordered_prefix_sums(by_s, ["s"],
                                  {"cum": F.col("c_tot")},
                                  ascending=False)
              .crossJoin(F.broadcast(tot))
              .select("c_pos", "c_tot", "cum", "n_all"))
    decile = F.ceil((F.col("cum") * 10).cast("double")
                    / F.col("n_all")).cast("long")
    by_d = (ranked.groupBy(decile.alias("decile"))
            .agg(F.sum("c_tot").alias("n"), F.sum("c_pos").alias("n_pos")))
    w_cum = (Window.orderBy("decile")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy()
    cum = by_d.select(
        "decile", "n", "n_pos",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n_pos").over(w_cum).alias("cum_pos"),
        F.sum("n").over(w_all).alias("tot_n"),
        F.sum("n_pos").over(w_all).alias("tot_pos"))
    return cum.select(
        "decile", "n", "n_pos",
        F.round(F.col("cum_pos").cast("double") / F.col("tot_pos"), 6)
         .alias("gain"),
        F.round((F.col("cum_pos").cast("double") / F.col("cum_n"))
                / (F.col("tot_pos").cast("double") / F.col("tot_n")), 6)
         .alias("cum_lift"))


# --------------------------------------------------------------------------
# Weight of evidence + information value
# --------------------------------------------------------------------------

_WOE_ORACLE = """
WITH by_cat AS (
  SELECT o_orderpriority AS cat,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
              AS BIGINT) AS neg
  FROM orders GROUP BY cat
), props AS (
  SELECT cat, pos, neg,
         (CAST(pos AS DOUBLE) + 0.5)
           / (CAST(SUM(pos) OVER () AS DOUBLE) + 2.5) AS p_pos,
         (CAST(neg AS DOUBLE) + 0.5)
           / (CAST(SUM(neg) OVER () AS DOUBLE) + 2.5) AS p_neg
  FROM by_cat
), terms AS (
  SELECT cat, pos, neg,
         ROUND(LN(p_pos / p_neg), 6) AS woe,
         ROUND((p_pos - p_neg) * LN(p_pos / p_neg), 6) AS iv_term
  FROM props
)
SELECT cat, pos, neg, woe, iv_term,
       ROUND(SUM(iv_term) OVER (), 6) AS iv_total
FROM terms
"""


@register("ml_woe", oracle=_WOE_ORACLE, tags=("ml", "encoding"))
def ml_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding + information value per category:
    WoE = ln(P(cat|pos) / P(cat|neg)), the scorecard-modeling
    companion to ml_target_encode (log-odds scale instead of mean
    target), with the category's IV contribution and the feature's
    total IV — the standard "is this feature worth keeping" screen.
    Laplace smoothing (+0.5 per category) keeps empty cells finite.

    One map-side-combinable aggregation to |categories| rows, then
    windows over that constant frame; ln is the single libm step,
    rounded at 6 dp on identical smoothed ratios."""
    o = load_table(spark, sf_dir, "orders")
    by_cat = (o.groupBy(F.col("o_orderpriority").alias("cat"))
              .agg(F.sum(F.when(F.col("o_orderstatus") == "F", 1)
                         .otherwise(0)).alias("pos"),
                   F.sum(F.when(F.col("o_orderstatus") == "F", 0)
                         .otherwise(1)).alias("neg")))
    w_all = Window.partitionBy()
    p_pos = laplace_share("pos", F.sum("pos").over(w_all), cells=5)
    p_neg = laplace_share("neg", F.sum("neg").over(w_all), cells=5)
    terms = by_cat.select(
        "cat", "pos", "neg",
        F.round(F.log(p_pos / p_neg), 6).alias("woe"),
        psi_term(p_pos, p_neg).alias("iv_term"))
    return terms.select(
        "cat", "pos", "neg", "woe", "iv_term",
        F.round(F.sum("iv_term").over(w_all), 6).alias("iv_total"))


# --------------------------------------------------------------------------
# Mutual information between two categorical columns
# --------------------------------------------------------------------------

_MI_ORACLE = """
WITH cells AS (
  SELECT event_type AS x, user_id % 4 AS y,
         CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM events GROUP BY x, y
), marg AS (
  SELECT x, y, n_xy,
         CAST(SUM(n_xy) OVER (PARTITION BY x) AS BIGINT) AS n_x,
         CAST(SUM(n_xy) OVER (PARTITION BY y) AS BIGINT) AS n_y,
         CAST(SUM(n_xy) OVER () AS BIGINT) AS n
  FROM cells
), terms AS (
  SELECT x, y, n_xy,
         ROUND((CAST(n_xy AS DOUBLE) / n)
               * LN(CAST(n_xy AS DOUBLE) * n
                    / (CAST(n_x AS DOUBLE) * n_y)), 6) AS mi_term
  FROM marg
)
SELECT x, y, n_xy, mi_term,
       ROUND(SUM(mi_term) OVER (), 6) AS mi_total
FROM terms
"""


@register("stats_mutual_info", oracle=_MI_ORACLE, tags=("stats", "info"))
def stats_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and a user-behavior
    bucket: MI = sum over cells of P(x,y) * ln(P(x,y)/(P(x)P(y))) —
    the dependence screen feature-selection pipelines run where
    correlation only sees linear signal (and the table-level
    generalization of text_pmi's per-pair statistic). MI ~ 0 here is
    itself the assertion: the fixture's event types are independent of
    user parity.

    One shuffle to the |X| x |Y| contingency cells, marginals via
    windows over that constant frame, pre-rounded terms summed
    order-free. Identical integer-ratio operands feed the one libm ln
    on both engines."""
    e = load_table(spark, sf_dir, "events")
    cells = (e.groupBy(F.col("event_type").alias("x"),
                       (F.col("user_id") % 4).alias("y"))
             .agg(F.count(F.lit(1)).alias("n_xy")))
    marg = cells.select(
        "x", "y", "n_xy",
        F.sum("n_xy").over(Window.partitionBy("x")).alias("n_x"),
        F.sum("n_xy").over(Window.partitionBy("y")).alias("n_y"),
        F.sum("n_xy").over(Window.partitionBy()).alias("n"))
    terms = marg.select(
        "x", "y", "n_xy",
        F.round((F.col("n_xy").cast("double") / F.col("n"))
                * F.log(F.col("n_xy").cast("double") * F.col("n")
                        / (F.col("n_x").cast("double") * F.col("n_y"))), 6)
         .alias("mi_term"))
    return terms.select(
        "x", "y", "n_xy", "mi_term",
        F.round(F.sum("mi_term").over(Window.partitionBy()), 6)
         .alias("mi_total"))


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(o_totalprice * 100 AS BIGINT) AS VARCHAR),
              1, 1) AS BIGINT) AS digit
  FROM orders
), counts AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
  FROM digits GROUP BY digit
), scored AS (
  SELECT digit, n,
         CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS obs,
         LN(1.0 + 1.0 / digit) / LN(10.0) AS exp_share,
         CAST(SUM(n) OVER () AS BIGINT) AS n_tot
  FROM counts
), terms AS (
  SELECT digit, n,
         ROUND(obs, 6) AS obs_share,
         ROUND(exp_share, 6) AS benford_share,
         ROUND(n_tot * (obs - exp_share) * (obs - exp_share)
               / exp_share, 6) AS chi2_term
  FROM scored
)
SELECT digit, n, obs_share, benford_share, chi2_term,
       ROUND(SUM(chi2_term) OVER (), 6) AS chi2_total
FROM terms
"""


@register("stats_benford", oracle=_BENFORD_ORACLE, tags=("stats", "audit"))
def stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of the money column: the
    observed leading-digit distribution against log10(1 + 1/d), with
    per-digit chi-square contributions — the forensic data-quality
    screen for fabricated or truncated numeric feeds (synthetic
    uniform fixtures fail it loudly, which is the point: the statistic
    MEASURES the generator's shape).

    The leading digit is extracted through exact integer/string
    arithmetic (price*100 is grid-exact), never floor(log10(x)) —
    keeping libm out of the bucketing; ln only prices the expected
    shares and the chi-square terms, rounded on identical operands.
    One map-side-combinable aggregation to 9 rows, then windows over
    that frame."""
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        (F.col("o_totalprice") * 100).cast("long").cast("string"),
        1, 1).cast("long")
    counts = (o.select(digit.alias("digit"))
              .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    w_all = Window.partitionBy()
    obs = F.col("n").cast("double") / F.sum("n").over(w_all).cast("double")
    exp_share = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    n_tot = F.sum("n").over(w_all)
    terms = counts.select(
        "digit", "n",
        F.round(obs, 6).alias("obs_share"),
        F.round(exp_share, 6).alias("benford_share"),
        F.round(n_tot * (obs - exp_share) * (obs - exp_share)
                / exp_share, 6).alias("chi2_term"))
    return terms.select(
        "digit", "n", "obs_share", "benford_share", "chi2_term",
        F.round(F.sum("chi2_term").over(w_all), 6).alias("chi2_total"))


# --------------------------------------------------------------------------
# RFM segmentation
# --------------------------------------------------------------------------

_RFM_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST(datediff('day', date_trunc('day', MAX(ts)),
              (SELECT date_trunc('day', MAX(ts)) FROM events)) AS BIGINT)
           AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS monetary
  FROM events GROUP BY user_id
), scored AS (
  SELECT user_id, recency_days, frequency, ROUND(monetary, 6) AS monetary,
         CAST(NTILE(5) OVER (ORDER BY recency_days, user_id) AS BIGINT) AS r,
         CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS BIGINT) AS f,
         CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS BIGINT) AS m
  FROM per_user
)
SELECT r, f, m,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(CAST(ROUND(monetary, 6) AS DECIMAL(38,6)))
                  AS DOUBLE), 6) AS segment_value
FROM scored GROUP BY r, f, m
"""


@register("events_rfm", oracle=_RFM_ORACLE, tags=("events", "segmentation"))
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency / frequency / monetary quintiles per
    user, aggregated to segment cells — the classic customer-base
    decomposition marketing and retention pipelines run first. Quintile
    assignment uses NTILE with explicit user_id tiebreaks so cell
    membership is identical on both engines (best quintile = 1
    throughout: most recent, most frequent, highest value).

    Shape: one shuffle to per-user RFM triples; the three quintile
    ranks run through the RANGE-PARTITIONED two-phase prefix count
    (operators/prefix.py, round 11) — no |users|-sized single-task
    NTILE; the bucket is then computed from (row_number, n) with the
    standard SQL remainder distribution (first n%k buckets take one
    extra row), which is EXACTLY what NTILE computes on both engines
    under the same total order. The final cell rollup is
    map-side-combinable. Monetary sums are decimal-exact; the
    observation horizon is the corpus max day on a 1-row broadcast."""
    from ..operators.prefix import ordered_prefix_sums

    e = load_table(spark, sf_dir, "events")
    horizon = e.agg(F.date_trunc("day", F.max("ts")).alias("h"))
    per_user = (e.groupBy("user_id")
                .agg(F.date_trunc("day", F.max("ts")).alias("last_day"),
                     F.count(F.lit(1)).alias("frequency"),
                     F.round(F.sum(F.col("value").cast("decimal(38,6)"))
                             .cast("double"), 6).alias("monetary"))
                .crossJoin(F.broadcast(horizon))
                .select("user_id",
                        F.datediff("h", "last_day").cast("long")
                         .alias("recency_days"),
                        "frequency", "monetary",
                        (-F.col("frequency")).alias("_negf"),
                        (-F.col("monetary")).alias("_negm")))

    def _ntile5(rn, n):
        # NTILE(5) from (row_number, n): q = n div 5 rows per bucket,
        # the first r = n mod 5 buckets take q+1 — the SQL-standard
        # distribution both engines implement. q = 0 (n < 5) keeps
        # every row in the first branch, so the q division is safe.
        q, r = F.floor(n / 5), n % 5
        big = (q + 1) * r
        return (F.when(rn <= big, F.floor((rn - 1) / (q + 1)) + 1)
                .otherwise(r + F.floor((rn - big - 1) / q) + 1)
                .cast("long"))

    ranked = ordered_prefix_sums(
        per_user, ["recency_days", "user_id"], {"rn_r": F.lit(1)})
    ranked = ordered_prefix_sums(
        ranked, ["_negf", "user_id"], {"rn_f": F.lit(1)})
    ranked = ordered_prefix_sums(
        ranked, ["_negm", "user_id"], {"rn_m": F.lit(1)})
    n_users = per_user.agg(F.count(F.lit(1)).alias("_n"))
    scored = (ranked.crossJoin(F.broadcast(n_users))
              .select("monetary",
                      _ntile5(F.col("rn_r"), F.col("_n")).alias("r"),
                      _ntile5(F.col("rn_f"), F.col("_n")).alias("f"),
                      _ntile5(F.col("rn_m"), F.col("_n")).alias("m")))
    return (scored.groupBy("r", "f", "m")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.round(F.sum(F.round(F.col("monetary"), 6)
                               .cast("decimal(38,6)")).cast("double"), 6)
                  .alias("segment_value")))


# --------------------------------------------------------------------------
# Active users: DAU / WAU / MAU + stickiness
# --------------------------------------------------------------------------

_ACTIVE_ORACLE = """
WITH day_user AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
  FROM events
), days AS (
  SELECT DISTINCT d FROM day_user
), dau AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS dau
  FROM day_user GROUP BY d
), grid AS (
  SELECT g.d, g.d - CAST(o.o AS INTEGER) * INTERVAL 1 DAY AS member_day
  FROM days g CROSS JOIN (SELECT unnest(range(7)) AS o) o
), wau AS (
  SELECT grid.d, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM grid JOIN day_user u ON u.d = grid.member_day
  GROUP BY grid.d
)
SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau,
       ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
"""


@register("events_active_users", oracle=_ACTIVE_ORACLE,
          tags=("events", "engagement"))
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / DAU-over-WAU stickiness per day —
    the engagement dashboard's first row. Rolling DISTINCT counts
    cannot ride a window frame (distinct isn't decomposable), so each
    report day's trailing week is EXPANDED into 7 explicit member days
    (a bounded |days| x 7 grid, allowlisted) and joined to the
    (day, user) activity table on the EQUI day key — a hash join, not
    a date-range nested loop.

    At 100 TB the (day, user_id) distinct pre-aggregation is the only
    fact-scale shuffle (shrinking input by the per-user daily event
    count); the grid join replicates each activity day at most 7x; the
    HLL-sketch union (agg_hll_sketch) is the approximate fallback when
    exact trailing distincts get too hot."""
    e = load_table(spark, sf_dir, "events")
    day_user = (e.select(F.to_date(F.date_trunc("day", "ts")).alias("d"),
                         "user_id")
                .distinct())
    days = day_user.select("d").distinct()
    offsets = spark.range(7).select(F.col("id").cast("int").alias("o"))
    grid = (days.alias("g").crossJoin(F.broadcast(offsets))
            .select(F.col("d"),
                    F.date_sub(F.col("d"), F.col("o")).alias("member_day")))
    # day_user is already distinct on (d, user_id): a plain count equals
    # the distinct count without the expand/two-phase distinct plan.
    dau = day_user.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    w = (grid.join(day_user.select(F.col("d").alias("member_day"),
                                   "user_id"), "member_day")
         .groupBy("d")
         .agg(F.countDistinct("user_id").alias("wau")))
    return (dau.join(w, "d")
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    "dau", "wau",
                    F.round(F.col("dau").cast("double") / F.col("wau"), 6)
                     .alias("stickiness")))


# --------------------------------------------------------------------------
# Feature standardization (z-scores from exact sufficient statistics)
# --------------------------------------------------------------------------

_STANDARDIZE_ORACLE = """
WITH cents AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
  FROM orders
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) AS s1,
         CAST(SUM(c * c) AS DOUBLE) AS s2
  FROM cents
)
SELECT o_orderkey,
       ROUND((c - s1 / n)
             / SQRT((s2 - s1 * s1 / n) / (n - 1)), 6) AS z
FROM cents, stats
WHERE o_orderkey % 199 = 0
"""


@register("ml_standardize", oracle=_STANDARDIZE_ORACLE,
          tags=("ml", "features"))
def ml_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score standardization — (x - mean) / sample-stddev — the
    fit-then-transform scaler every linear/NN model pipeline applies,
    computed distributed in ONE pass. The sufficient statistics use
    exact integer CENTS (the money grid): c = price*100 is an exact
    BIGINT, c*c fits a long (< 2.5e15), and the squared sum
    accumulates in DECIMAL(38,0) on Spark / HUGEINT in DuckDB — both
    exact integers whose one conversion to double rounds identically.
    z-scores are scale-invariant, so standardizing cents equals
    standardizing dollars; every floating step after the casts is an
    identical operand sequence (sqrt is IEEE-exact). No engine-native
    stddev (their streaming accumulations differ); no second pass.

    The stats ride a 1-row broadcast frame back onto the scan
    (allowlisted); the key-modulus output thinning keeps the fixture
    compare small; the transform itself is a pure row map at any
    scale."""
    o = load_table(spark, sf_dir, "orders")
    c = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
    cents = o.select("o_orderkey", c.alias("c"))
    stats = cents.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("double").alias("s1"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
         .cast("double").alias("s2"))
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    mean = s1 / n
    sd = F.sqrt((s2 - s1 * s1 / n) / (n - 1))
    return (cents.crossJoin(F.broadcast(stats))
            .where(F.col("o_orderkey") % 199 == 0)
            .select("o_orderkey",
                    F.round((F.col("c") - mean) / sd, 6).alias("z")))


# --------------------------------------------------------------------------
# One-way ANOVA across k groups
# --------------------------------------------------------------------------

_ANOVA_ORACLE = """
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(CAST(value AS DECIMAL(12,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(12,6))
                  * CAST(value AS DECIMAL(12,6))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(s1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1_all,
         CAST(SUM(CAST(ROUND(s2 - s1 * s1 / n_g, 6) AS DECIMAL(38,6)))
              AS DOUBLE) AS ssw,
         CAST(SUM(CAST(ROUND(s1 * s1 / n_g, 6) AS DECIMAL(38,6)))
              AS DOUBLE) AS sq_groups
  FROM g
)
SELECT k, n,
       ROUND(sq_groups - s1_all * s1_all / n, 6) AS ss_between,
       ROUND(ssw, 6) AS ss_within,
       ROUND(((sq_groups - s1_all * s1_all / n) / (k - 1))
             / (ssw / (n - k)), 6) AS f_stat
FROM tot
"""


@register("stats_anova", oracle=_ANOVA_ORACLE, tags=("stats", "abtest"))
def stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic across the k = 5 event-type groups —
    the k-group generalization completing the A/B family (t-test two
    groups, rank-sum, KS, chi-square, now ANOVA). Between/within sums
    of squares come from per-group exact sufficient statistics
    (DECIMAL(12,6) sums and squares — value <= 490 keeps the (25,12)
    product inside both engines' int64 decimal physical), so the only
    floating work is the identical closed-form polynomial after the
    casts, rounded at 6 dp.

    The cross-group accumulation (s1_all, ssw, sq_groups) rounds each
    per-group double to the 6-dp grid and sums as DECIMAL — at corpus
    scale the squared sums reach magnitudes where a raw double
    partial-sum's ulp crosses the rounding half-grid, so order-free
    decimal accumulation is load-bearing here, not belt-and-braces.
    One map-side-combinable shuffle to k rows; everything after is
    constant-size."""
    e = load_table(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(12,6)")
    g = (e.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n_g"),
              F.sum(x).cast("double").alias("s1"),
              F.sum(x * x).cast("double").alias("s2")))
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum(F.round(F.col("s1"), 6).cast("decimal(38,6)"))
         .cast("double").alias("s1_all"),
        F.sum(F.round(F.col("s2") - F.col("s1") * F.col("s1")
                      / F.col("n_g"), 6).cast("decimal(38,6)"))
         .cast("double").alias("ssw"),
        F.sum(F.round(F.col("s1") * F.col("s1") / F.col("n_g"), 6)
              .cast("decimal(38,6)")).cast("double").alias("sq_groups"))
    k, n = F.col("k"), F.col("n")
    ssb = F.col("sq_groups") - F.col("s1_all") * F.col("s1_all") / n
    return tot.select(
        "k", "n",
        F.round(ssb, 6).alias("ss_between"),
        F.round(F.col("ssw"), 6).alias("ss_within"),
        F.round((ssb / (k - 1)) / (F.col("ssw") / (n - k)), 6)
         .alias("f_stat"))


# --------------------------------------------------------------------------
# Time-series decomposition: trend + day-of-week seasonal + residual
# --------------------------------------------------------------------------

_DECOMPOSE_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(*), 6) AS DECIMAL(38,6)) AS m
  FROM events GROUP BY d
), trended AS (
  SELECT d, m,
         CAST(ROUND(CAST(SUM(m) OVER w AS DOUBLE)
                    / COUNT(*) OVER w, 6) AS DECIMAL(38,6)) AS trend
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), detrended AS (
  SELECT d, m, trend,
         CAST(m - trend AS DECIMAL(38,6)) AS detr
  FROM trended
), seasonal AS (
  SELECT isodow(d) AS dow,
         CAST(ROUND(CAST(SUM(detr) AS DOUBLE) / COUNT(*), 6)
              AS DECIMAL(38,6)) AS s
  FROM detrended GROUP BY dow
)
SELECT strftime(t.d, '%Y-%m-%d') AS day,
       CAST(isodow(t.d) AS BIGINT) AS dow,
       ROUND(CAST(t.m AS DOUBLE), 6) AS daily_mean,
       ROUND(CAST(t.trend AS DOUBLE), 6) AS trend,
       ROUND(CAST(s.s AS DOUBLE), 6) AS seasonal,
       ROUND(CAST(t.detr - s.s AS DOUBLE), 6) AS residual
FROM detrended t JOIN seasonal s ON isodow(t.d) = s.dow
"""


@register("events_decompose", oracle=_DECOMPOSE_ORACLE,
          tags=("events", "timeseries"))
def events_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily mean:
    centered 7-day moving average as trend, day-of-week means of the
    detrended series as the seasonal component, remainder as residual
    — the observability-dashboard split (is Monday low because Mondays
    are low, or is something wrong?) and the STL-lite companion to
    events_cusum / window_regression.

    Every intermediate (daily mean, trend, detrended, seasonal) is
    rounded to the 6-dp grid and carried as DECIMAL so subtractions
    and the dow-group sums are exact — the only doubles are single
    divisions of identical operands. Day-of-week uses the ISO
    numbering on both engines (Spark weekday()+1 == DuckDB isodow).
    Edge days keep their partial trend window (AVG over the available
    frame rows), identical construction in both engines.

    Shape: one shuffle to |days| rows, then bounded 7-row frames and a
    7-row broadcast seasonal join."""
    e = load_table(spark, sf_dir, "events")
    daily = (e.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d"))
             .agg(F.round(F.sum(F.col("value").cast("decimal(38,6)"))
                          .cast("double") / F.count(F.lit(1)), 6)
                  .cast("decimal(38,6)").alias("m")))
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d", "m",
        F.round(F.sum("m").over(w).cast("double")
                / F.count(F.lit(1)).over(w), 6)
         .cast("decimal(38,6)").alias("trend"))
    detrended = trended.select(
        "d", "m", "trend",
        (F.col("m") - F.col("trend")).cast("decimal(38,6)").alias("detr"))
    dow = (F.expr("weekday(d)") + 1).cast("long")
    seasonal = (detrended.groupBy(dow.alias("dow"))
                .agg(F.round(F.sum("detr").cast("double")
                             / F.count(F.lit(1)), 6)
                     .cast("decimal(38,6)").alias("s")))
    return (detrended.withColumn("dow", dow)
            .join(F.broadcast(seasonal), "dow")
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    "dow",
                    F.round(F.col("m").cast("double"), 6)
                     .alias("daily_mean"),
                    F.round(F.col("trend").cast("double"), 6).alias("trend"),
                    F.round(F.col("s").cast("double"), 6).alias("seasonal"),
                    F.round((F.col("detr") - F.col("s")).cast("double"), 6)
                     .alias("residual")))


# --------------------------------------------------------------------------
# Robust outliers (median / MAD) + k-fold evaluation
# --------------------------------------------------------------------------

_MAD_ORACLE = """
WITH med AS (
  SELECT event_type,
         ROUND(median(CAST(value AS DOUBLE)), 4) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type,
         m.med,
         ROUND(median(abs(e.value - m.med)), 4) AS mad
  FROM events e JOIN med m ON e.event_type = m.event_type
  GROUP BY e.event_type, m.med
)
SELECT e.event_id, e.event_type, e.value,
       ROUND(0.6745 * (e.value - a.med) / a.mad, 6) AS robust_z
FROM events e JOIN mad a ON e.event_type = a.event_type
WHERE a.mad > 0
  AND abs(0.6745 * (e.value - a.med) / a.mad) > 3.5
"""


@register("events_outliers_mad", oracle=_MAD_ORACLE,
          tags=("events", "outliers"))
def events_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen: modified z-score 0.6745*(x - median)/MAD
    with the standard |z| > 3.5 cut — the companion to events_outliers
    that a single extreme value cannot poison (mean/stddev z-scores
    move WITH the outliers they hunt; median/MAD do not). The
    data-quality gate of choice for heavy-tailed telemetry.

    Both medians pass through the engines' interpolated exact
    percentile, rounded to 4 dp before reuse (the agg_percentile
    parity contract), so the downstream arithmetic sees identical
    operands. Two aggregation passes over the fact (median, then MAD
    of residuals) plus a broadcast join back — MAD is inherently
    two-pass.

    SIZE-ROUTED (round 6, measured sf10 exponent 0.57 on the exact
    path): F.median sorts each event_type group whole, and with a
    handful of types that is a few giant sort tasks — the classic
    big-group scale wall. Above _MAD_EXACT_MAX_ROWS the route swaps
    both medians for percentile_approx(0.5, 10k accuracy) — the
    documented 100 TB substitution (rank error ≤ n/accuracy; the 3.5
    robust-z cut only moves for values within ~1e-4 of it). Fixture
    scales stay on the exact path, so the oracle contract is
    unchanged; the routing is by LOGICAL row count from parquet
    footers (r7: was on-disk bytes — codec/layout-dependent, a
    reproducibility hazard the r6 advisor flagged), so the same
    logical dataset always takes the same path."""
    e = load_table(spark, sf_dir, "events")
    nrows = table_rows(sf_dir, "events")
    exact = nrows is not None and nrows <= _MAD_EXACT_MAX_ROWS

    def med50(col):
        return (F.median(col) if exact
                else F.percentile_approx(col, 0.5, 10_000))

    med = (e.groupBy("event_type")
           .agg(F.round(med50(F.col("value").cast("double")), 4)
                .alias("med")))
    mad = (e.join(F.broadcast(med), "event_type")
           .groupBy("event_type", "med")
           .agg(F.round(med50(F.abs(F.col("value") - F.col("med"))), 4)
                .alias("mad")))
    rz = F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad")
    # mad == 0 (>= half the group at the median, e.g. heavily quantized
    # values) makes the modified z undefined — and the engines disagree
    # on x/0 (Spark NULL, DuckDB inf), so the guard is also a
    # determinism requirement, not just statistics hygiene.
    return (e.join(F.broadcast(mad), "event_type")
            .where((F.col("mad") > 0) & (F.abs(rz) > 3.5))
            .select("event_id", "event_type", "value",
                    F.round(rz, 6).alias("robust_z")))


_KFOLD_ORACLE = """
WITH folds AS (
  SELECT (o_orderkey * 2654435761 + 99) % 1000000007 % 5 AS fold,
         CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END AS pred,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
  FROM orders
)
SELECT fold,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       ROUND(CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS accuracy,
       ROUND(CAST(SUM(label) AS DOUBLE) / COUNT(*), 6) AS pos_rate
FROM folds GROUP BY fold
"""


@register("ml_kfold", oracle=_KFOLD_ORACLE, tags=("ml", "eval"))
def ml_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold evaluation: fold assignment by the same
    affine key hash as sample_consistent (reproducible across runs,
    engines, and corpus growth — df.randomSplit is none of those),
    per-fold accuracy and base rate of the fixed threshold model. The
    fold-to-fold accuracy spread is the variance estimate that decides
    whether a model change is signal or noise.

    One map-side-combinable aggregation; exact integer arithmetic
    until the two final ratios."""
    o = load_table(spark, sf_dir, "orders")
    fold = ((F.col("o_orderkey") * F.lit(2654435761) + F.lit(99))
            % F.lit(1000000007) % 5)
    pred = F.when(F.col("o_totalprice") > 150000.0, 1).otherwise(0)
    label = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    scored = o.select(fold.alias("fold"), pred.alias("pred"),
                      label.alias("label"))
    correct = F.sum(F.when(F.col("pred") == F.col("label"), 1).otherwise(0))
    return (scored.groupBy("fold")
            .agg(F.count(F.lit(1)).alias("n"),
                 correct.alias("n_correct"),
                 F.round(correct.cast("double") / F.count(F.lit(1)), 6)
                  .alias("accuracy"),
                 F.round(F.sum("label").cast("double")
                         / F.count(F.lit(1)), 6).alias("pos_rate")))


# --------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# --------------------------------------------------------------------------

_FORECAST_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(*), 6) AS DECIMAL(38,6)) AS y
  FROM events GROUP BY d
), joined AS (
  SELECT a.d, a.y, l.y AS yhat
  FROM daily a JOIN daily l ON l.d = a.d - INTERVAL 7 DAY
  WHERE a.y <> 0
), scored AS (
  SELECT d, y, yhat,
         CAST(ROUND(CAST(abs(y - yhat) AS DOUBLE), 6) AS DECIMAL(38,6))
           AS abs_err,
         CAST(ROUND(CAST(abs(y - yhat) AS DOUBLE)
                    / CAST(y AS DOUBLE), 6) AS DECIMAL(38,6)) AS ape
  FROM joined
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       ROUND(CAST(y AS DOUBLE), 6) AS actual,
       ROUND(CAST(yhat AS DOUBLE), 6) AS forecast,
       ROUND(CAST(abs_err AS DOUBLE), 6) AS abs_err,
       ROUND(CAST(SUM(abs_err) OVER () AS DOUBLE)
             / COUNT(*) OVER (), 6) AS mae,
       ROUND(100.0 * CAST(SUM(ape) OVER () AS DOUBLE)
             / COUNT(*) OVER (), 6) AS mape_pct
FROM scored
"""


@register("events_forecast_backtest", oracle=_FORECAST_ORACLE,
          tags=("events", "timeseries", "forecast"))
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's mean with
    the value 7 days earlier (the baseline every forecasting system
    must beat — if your model can't outperform "same day last week"
    it isn't a model), scored with MAE and MAPE over the backtest
    window. The equi self-join on the lagged date is the standard
    holdout construction; errors are grid-rounded then accumulated as
    DECIMAL so the aggregate metrics are order-free.

    Shape: one shuffle to |days| rows, a self-join on the day key,
    windows over that constant frame. Swapping the naive lag for a
    real model's prediction table changes one join input and nothing
    else — that is the point of the backtest harness."""
    e = load_table(spark, sf_dir, "events")
    daily = (e.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d"))
             .agg(F.round(F.sum(F.col("value").cast("decimal(38,6)"))
                          .cast("double") / F.count(F.lit(1)), 6)
                  .cast("decimal(38,6)").alias("y")))
    lagged = daily.select(F.date_add(F.col("d"), 7).alias("d"),
                          F.col("y").alias("yhat"))
    # zero actuals make APE undefined (and Spark NULL vs DuckDB inf on
    # x/0 would diverge) — exclude them from the backtest window.
    joined = daily.join(lagged, "d").where(F.col("y") != 0)
    scored = joined.select(
        "d", "y", "yhat",
        F.round(F.abs(F.col("y") - F.col("yhat")).cast("double"), 6)
         .cast("decimal(38,6)").alias("abs_err"),
        F.round(F.abs(F.col("y") - F.col("yhat")).cast("double")
                / F.col("y").cast("double"), 6)
         .cast("decimal(38,6)").alias("ape"))
    w_all = Window.partitionBy()
    return scored.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round(F.col("y").cast("double"), 6).alias("actual"),
        F.round(F.col("yhat").cast("double"), 6).alias("forecast"),
        F.round(F.col("abs_err").cast("double"), 6).alias("abs_err"),
        F.round(F.sum("abs_err").over(w_all).cast("double")
                / F.count(F.lit(1)).over(w_all), 6).alias("mae"),
        F.round(F.lit(100.0) * F.sum("ape").over(w_all).cast("double")
                / F.count(F.lit(1)).over(w_all), 6).alias("mape_pct"))


# --------------------------------------------------------------------------
# Functional-dependency profiling
# --------------------------------------------------------------------------

_FD_ORACLE = """
WITH checks AS (
  SELECT 'nation: n_nationkey -> n_name' AS fd,
         CAST(COUNT(*) AS BIGINT) AS n_lhs,
         CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating_keys
  FROM (SELECT n_nationkey, COUNT(DISTINCT n_name) AS n_rhs
        FROM nation GROUP BY n_nationkey)
  UNION ALL
  SELECT 'orders: o_custkey -> o_orderpriority',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_rhs
        FROM orders GROUP BY o_custkey)
  UNION ALL
  SELECT 'lineitem: l_orderkey -> o_exists (ref integrity)',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN n_rhs = 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT l.l_orderkey, COUNT(o.o_orderkey) AS n_rhs
        FROM (SELECT DISTINCT l_orderkey FROM lineitem) l
        LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_orderkey)
)
SELECT fd, n_lhs, n_violating_keys,
       CASE WHEN n_violating_keys = 0 THEN 'holds' ELSE 'violated' END
         AS verdict
FROM checks
"""


@register("etl_fd_check", oracle=_FD_ORACLE, tags=("etl", "profiling"))
def etl_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency / referential-integrity profiling: for
    each declared candidate dependency A -> B, count left-hand keys
    whose B is not unique (FD violations), plus an orphan check for
    the lineitem -> orders foreign key. This is the schema-discovery
    pass a data catalog runs on arrival — FDs that HOLD become
    constraints and join-elimination opportunities for the optimizer;
    violations become quarantine rows (scan_csv_malformed's pattern).

    Each check is one map-side-combinable distinct-count aggregation
    on its key; the union of constant-size summaries is free. The
    expected fixture verdicts: the nation FD holds, the orders one is
    violated (customers order at many priorities), the FK has no
    orphans."""
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def fd(df, lhs, rhs, label):
        per = (df.groupBy(lhs)
               .agg(F.countDistinct(rhs).alias("n_rhs")))
        return per.agg(
            F.lit(label).alias("fd"),
            F.count(F.lit(1)).alias("n_lhs"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
             .alias("n_violating_keys"))

    fk = (li.select("l_orderkey").distinct()
          .join(orders.select("o_orderkey"),
                F.col("l_orderkey") == F.col("o_orderkey"), "left")
          .groupBy("l_orderkey")
          .agg(F.count("o_orderkey").alias("n_rhs"))
          .agg(F.lit("lineitem: l_orderkey -> o_exists (ref integrity)")
               .alias("fd"),
               F.count(F.lit(1)).alias("n_lhs"),
               F.sum(F.when(F.col("n_rhs") == 0, 1).otherwise(0))
                .alias("n_violating_keys")))
    checks = (fd(nation, "n_nationkey", "n_name",
                 "nation: n_nationkey -> n_name")
              .unionByName(fd(orders, "o_custkey", "o_orderpriority",
                              "orders: o_custkey -> o_orderpriority"))
              .unionByName(fk))
    return checks.select(
        "fd", "n_lhs", "n_violating_keys",
        F.when(F.col("n_violating_keys") == 0, "holds")
         .otherwise("violated").alias("verdict"))


# --------------------------------------------------------------------------
# Average precision (area under the PR curve, step interpolation)
# --------------------------------------------------------------------------

_AP_ORACLE = """
WITH by_s AS (
  SELECT o_totalprice AS s,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_pos,
         CAST(COUNT(*) AS BIGINT) AS c_tot
  FROM orders GROUP BY s
), ranked AS (
  SELECT c_pos, c_tot,
         CAST(SUM(c_pos) OVER w AS BIGINT) AS cum_pos,
         CAST(SUM(c_tot) OVER w AS BIGINT) AS cum_tot,
         CAST(SUM(c_pos) OVER () AS BIGINT) AS n_pos
  FROM by_s
  WINDOW w AS (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT n_pos,
       ROUND(CAST(SUM(CAST(ROUND((CAST(c_pos AS DOUBLE) / n_pos)
                       * (CAST(cum_pos AS DOUBLE) / cum_tot), 9)
                  AS DECIMAL(38,9))) AS DOUBLE), 6)
         AS average_precision
FROM ranked
GROUP BY n_pos
"""


@register("ml_average_precision", oracle=_AP_ORACLE, tags=("ml", "eval"))
def ml_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision — the area under the precision-recall curve
    with step interpolation: AP = sum over thresholds of
    (delta recall) * precision-at-threshold. The eval of record for
    imbalanced retrieval tasks where ROC AUC (ml_auc) is too
    forgiving. Thresholds are the distinct raw scores (descending);
    ties collapse into one threshold group, so the statistic is exact
    integer ratios per group, pre-rounded at 9 dp and summed
    order-free, final at 6 dp.

    Same plan skeleton as ml_auc: tie-group aggregation (one shuffle
    on the score), then the DESCENDING range-partitioned two-phase
    prefix sum (operators/prefix.py) for both cumulatives — no
    data-dependent single-task window; the total-positives scalar
    rides the allowlisted 1-row broadcast frame, not a
    whole-frame-in-one-task empty window."""
    from ..operators.prefix import ordered_prefix_sums

    o = load_table(spark, sf_dir, "orders")
    by_s = (o.select(F.col("o_totalprice").alias("s"),
                     F.when(F.col("o_orderstatus") == "F", 1)
                      .otherwise(0).alias("label"))
            .groupBy("s")
            .agg(F.sum("label").alias("c_pos"),
                 F.count(F.lit(1)).alias("c_tot")))
    totals = by_s.agg(F.sum("c_pos").alias("n_pos"))
    ranked = (ordered_prefix_sums(
        by_s, ["s"], {"cum_pos": F.col("c_pos"),
                      "cum_tot": F.col("c_tot")}, ascending=False)
        .crossJoin(F.broadcast(totals)))
    term = F.round((F.col("c_pos").cast("double") / F.col("n_pos"))
                   * (F.col("cum_pos").cast("double") / F.col("cum_tot")), 9)
    return (ranked.groupBy("n_pos")
            .agg(F.round(F.sum(term.cast("decimal(38,9)")).cast("double"),
                         6).alias("average_precision")))


# --------------------------------------------------------------------------
# Experiment design: two-proportion sample-size / power calculator
# --------------------------------------------------------------------------

_POWER_ORACLE = """
WITH rates AS (
  SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n0,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n1,
         CAST(SUM(CASE WHEN user_id % 2 = 0
                        AND event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN user_id % 2 = 1
                        AND event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1
  FROM events
), p AS (
  SELECT n0, n1,
         CAST(c0 AS DOUBLE) / n0 AS p0,
         CAST(c1 AS DOUBLE) / n1 AS p1
  FROM rates
), mde AS (
  SELECT n0, n1, ROUND(p0, 6) AS p0, ROUND(p1, 6) AS p1,
         lift.m AS mde_rel
  FROM p CROSS JOIN
       (SELECT CAST(unnest([0.01, 0.02, 0.05, 0.10]) AS DOUBLE) AS m) lift
)
SELECT mde_rel,
       p0, p1, n0 AS current_n_per_arm,
       CAST(CEIL((1.959963985 + 0.841621234)
                 * (1.959963985 + 0.841621234)
                 * (p0 * (1 - p0) + p0 * (1 + mde_rel)
                    * (1 - p0 * (1 + mde_rel)))
                 / ((p0 * mde_rel) * (p0 * mde_rel))) AS BIGINT)
         AS n_required_per_arm
FROM mde
"""


@register("stats_power", oracle=_POWER_ORACLE, tags=("stats", "abtest"))
def stats_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion sample-size calculator at alpha 0.05 (two-sided)
    and power 0.80: for each candidate relative MDE (1/2/5/10%), the
    per-arm n required to detect that lift off the CURRENT measured
    base rate — the "how long must this A/B run" planning table that
    completes the testing family (stats_proportion_test answers "did
    it move", this answers "could we even tell"). The normal quantiles
    z_{{0.975}} = 1.959963985 and z_{{0.80}} = 0.841621234 are fixed
    literals (both engines lack an inverse normal CDF; constants keep
    the arithmetic an identical IEEE sequence).

    One conditional-count pass over the fact; the 4-row MDE grid is a
    bounded literal frame (allowlisted cross join)."""
    e = load_table(spark, sf_dir, "events")
    arm0 = F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)
    purch = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    rates = e.agg(
        F.sum(arm0).alias("n0"),
        F.sum(1 - arm0).alias("n1"),
        F.sum(arm0 * purch).alias("c0"),
        F.sum((1 - arm0) * purch).alias("c1"))
    p = rates.select(
        "n0", "n1",
        F.round(F.col("c0").cast("double") / F.col("n0"), 6).alias("p0"),
        F.round(F.col("c1").cast("double") / F.col("n1"), 6).alias("p1"))
    mde = spark.createDataFrame([(0.01,), (0.02,), (0.05,), (0.10,)],
                                "mde_rel double")
    z = 1.959963985 + 0.841621234
    p0 = F.col("p0")
    p_alt = p0 * (1 + F.col("mde_rel"))
    n_req = F.ceil(F.lit(z) * F.lit(z)
                   * (p0 * (1 - p0) + p_alt * (1 - p_alt))
                   / ((p0 * F.col("mde_rel")) * (p0 * F.col("mde_rel"))))
    return (p.crossJoin(F.broadcast(mde))
            .select("mde_rel", "p0", "p1",
                    F.col("n0").alias("current_n_per_arm"),
                    n_req.cast("long").alias("n_required_per_arm")))


_NB_ORACLE = """
WITH d AS MATERIALIZED (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
),
train AS MATERIALIZED (SELECT * FROM d WHERE doc_id % 5 <> 0),
test  AS MATERIALIZED (SELECT * FROM d WHERE doc_id % 5 = 0),
ttok AS MATERIALIZED (
  SELECT lang, unnest(toks) AS tok FROM train
),
cls AS MATERIALIZED (SELECT lang, COUNT(*) AS tot FROM ttok GROUP BY lang),
vsz AS (SELECT COUNT(DISTINCT tok) AS v FROM ttok),
ntr AS (SELECT COUNT(*) AS n FROM train),
priors AS MATERIALIZED (
  SELECT lang,
         CAST(ROUND(ln(COUNT(*) * 1.0 / (SELECT n FROM ntr)), 9)
              AS DECIMAL(28,9)) AS lp
  FROM train GROUP BY lang
),
cnt AS MATERIALIZED (
  SELECT lang, tok, COUNT(*) AS c FROM ttok GROUP BY lang, tok
),
vocab AS MATERIALIZED (SELECT DISTINCT tok FROM ttok),
tf AS MATERIALIZED (
  SELECT t.doc_id, t.lang_true, t.tok, COUNT(*) AS tf
  FROM (SELECT doc_id, lang AS lang_true, unnest(toks) AS tok
        FROM test) t
  JOIN vocab v ON v.tok = t.tok
  GROUP BY 1, 2, 3
),
term AS MATERIALIZED (
  SELECT g.doc_id, g.lang_true, g.lang,
         CAST(g.tf
              * ROUND(ln((COALESCE(cnt.c, 0) + 1) * 1.0
                         / (cls.tot + (SELECT v FROM vsz))), 9)
              AS DECIMAL(28,9)) AS trm
  FROM (SELECT tf.*, c2.lang FROM tf CROSS JOIN (SELECT lang FROM cls) c2) g
  JOIN cls ON cls.lang = g.lang
  LEFT JOIN cnt ON cnt.lang = g.lang AND cnt.tok = g.tok
),
tscore AS MATERIALIZED (
  SELECT doc_id, lang_true, lang, SUM(trm) AS s
  FROM term GROUP BY 1, 2, 3
),
score AS MATERIALIZED (
  SELECT b.doc_id, b.lang_true, b.lang,
         COALESCE(ts.s, 0) + p.lp AS total
  FROM (SELECT t.doc_id, t.lang AS lang_true, c.lang
        FROM test t CROSS JOIN (SELECT lang FROM cls) c) b
  LEFT JOIN tscore ts ON ts.doc_id = b.doc_id AND ts.lang = b.lang
  JOIN priors p ON p.lang = b.lang
),
pred AS (
  SELECT doc_id, lang_true, lang AS lang_pred FROM score
  QUALIFY row_number() OVER (
      PARTITION BY doc_id ORDER BY total DESC, lang) = 1
)
SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY lang_true, lang_pred
ORDER BY lang_true, lang_pred
"""


@register("ml_naive_bayes", oracle=_NB_ORACLE, tags=("ml", "text"))
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained IN the engine — the classic
    fully-relational classifier: training is two hash aggregations
    (per-class token counts + class totals), scoring is a join of the
    test term-frequency matrix against the count table and one
    argmax window. No model object leaves the cluster; the "model" IS
    a DataFrame, which is how a 100 TB corpus gets a cheap first-pass
    label (language, topic, quality tier) before anything neural runs.
    Output: the 80/20 hash-split holdout confusion matrix
    (lang_true, lang_pred, n) of a language classifier over the
    documents table.

    Cross-engine determinism: per-token Laplace log-likelihoods
    ln((c+1)/(tot+V)) are snapped to a 9-dp grid on BOTH engines
    (ulp-level ln() noise sits far below the grid, the pagerank
    argument), then every per-doc-class score is an exact
    DECIMAL(28,9) sum of grid terms + the grid log-prior; argmax ties
    break on lang ASC. OOV test tokens (absent from the train
    vocabulary) are dropped — the textbook convention — via one
    vocab semi-join; a test doc that is ALL-OOV still classifies by
    prior alone (the docs×classes grid below). Scale: the big shuffle
    keys are (lang, tok) — vocabulary-bounded — and the docs×classes
    grid is |test| × n_classes (classes are ~5: a broadcast
    crossJoin, audit-allowlisted)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens("text").alias("toks"))
    train = d.filter(F.col("doc_id") % 5 != 0)
    test = d.filter(F.col("doc_id") % 5 == 0)
    ttok = train.select("lang", F.explode("toks").alias("tok"))
    cls = ttok.groupBy("lang").agg(F.count(F.lit(1)).alias("tot"))
    # Bounded driver scalars (one int each): vocabulary size and train
    # doc count feed the smoothing constants on both engines.
    v_size = ttok.select("tok").distinct().count()
    n_train = train.count()
    priors = (train.groupBy("lang")
              .agg(F.round(F.log(F.count(F.lit(1)).cast("double")
                                 / F.lit(float(n_train))), 9)
                   .cast("decimal(28,9)").alias("lp")))
    cnt = ttok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = cnt.select("tok").distinct()
    tf = (test.select("doc_id", F.col("lang").alias("lang_true"),
                      F.explode("toks").alias("tok"))
          .join(vocab, "tok")          # OOV drop: train-vocab semi
          .groupBy("doc_id", "lang_true", "tok")
          .agg(F.count(F.lit(1)).alias("tf")))
    langs = cls.select("lang")
    grid = tf.crossJoin(F.broadcast(langs))
    lg = F.round(F.log((F.coalesce(F.col("c"), F.lit(0)) + 1)
                       .cast("double")
                       / (F.col("tot") + F.lit(v_size))), 9)
    term = (grid.join(F.broadcast(cls), "lang")
            .join(cnt, ["lang", "tok"], "left")
            .select("doc_id", "lang_true", "lang",
                    (F.col("tf").cast("double") * lg)
                    .cast("decimal(28,9)").alias("trm")))
    tscore = (term.groupBy("doc_id", "lang_true", "lang")
              .agg(F.sum("trm").alias("s")))
    base = (test.select("doc_id", F.col("lang").alias("lang_true"))
            .crossJoin(F.broadcast(langs)))
    score = (base.join(tscore.drop("lang_true"),
                      ["doc_id", "lang"], "left")
             .join(F.broadcast(priors), "lang")
             .select("doc_id", "lang_true", "lang",
                     (F.coalesce(F.col("s"), F.lit(0).cast("decimal(28,9)"))
                      + F.col("lp")).alias("total")))
    w = Window.partitionBy("doc_id").orderBy(F.col("total").desc(), "lang")
    pred = (score.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1))
    return (pred.groupBy("lang_true", F.col("lang").alias("lang_pred"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("lang_true", "lang_pred"))


_THEILSEN_ORACLE = """
WITH daily AS MATERIALIZED (
  SELECT (CAST(ts AS DATE) - DATE '1970-01-01') AS x,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
prs AS MATERIALIZED (
  SELECT a.x AS x1, b.x AS x2, (b.y - a.y) / (b.x - a.x) AS slope
  FROM daily a JOIN daily b ON a.x < b.x
),
ord AS (
  SELECT slope,
         row_number() OVER (ORDER BY slope, x1, x2) AS rn,
         COUNT(*) OVER () AS np
  FROM prs
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
       CAST(np AS BIGINT) AS n_pairs,
       ROUND(slope, 6) AS theilsen_slope
FROM ord WHERE rn = (np + 1) // 2
"""


@register("stats_theilsen", oracle=_THEILSEN_ORACLE,
          tags=("stats", "robust", "timeseries"))
def stats_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimate of daily event revenue — the
    median of all pairwise day-to-day slopes. Unlike the least-squares
    slope (window_regression), one corrupted day cannot move it: the
    estimator has a 29% breakdown point, which is why it's the
    standard drift/trend monitor over pipelines whose daily totals
    occasionally take ingestion spikes.

    Shape: the heavy lifting is ONE daily hash aggregation over the
    raw events (decimal-exact sums); everything after operates on the
    tiny |days| frame — the |days|² pair grid (bounded: a DECADE is
    ~3.7k days → 6.7M pairs, kilobytes a row) is an audit-allowlisted
    broadcast crossJoin, and the median is the explicit
    lower-median element in (slope, x1, x2) order — no interpolation,
    no float-order ambiguity: both engines pick position (n+1)÷2 of
    identical slope multisets (identical doubles in, identical IEEE
    divisions out). Output: (n_days, n_pairs, theilsen_slope)."""
    e = load_table(spark, sf_dir, "events")
    daily = (e.groupBy(F.to_date("ts").alias("day"))
             .agg(F.sum(F.col("value").cast("decimal(38,6)"))
                  .cast("double").alias("y"))
             .select(F.datediff("day", F.lit("1970-01-01").cast("date"))
                     .alias("x"), "y"))
    a = daily.select(F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = daily.select(F.col("x").alias("x2"), F.col("y").alias("y2"))
    prs = (a.crossJoin(b).filter(F.col("x1") < F.col("x2"))
           .select("x1", "x2",
                   ((F.col("y2") - F.col("y1"))
                    / (F.col("x2") - F.col("x1")).cast("double"))
                   .alias("slope")))
    w_all = Window.partitionBy(F.lit(1))
    ordw = Window.partitionBy(F.lit(1)).orderBy("slope", "x1", "x2")
    ranked = prs.select(
        "slope",
        F.row_number().over(ordw).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("np"))
    # Integer lower-median position: (np + 1) DIV 2, exact on both
    # engines (no float division).
    med = ranked.filter(F.col("rn") == F.expr("(np + 1) DIV 2"))
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return (med.crossJoin(F.broadcast(n_days))  # 1-row frame
            .select(F.col("n_days").cast("long").alias("n_days"),
                    F.col("np").cast("long").alias("n_pairs"),
                    F.round("slope", 6).alias("theilsen_slope")))


@register("stats_rank_corr", oracle="""
WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS x,
                      SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS y
               FROM orders GROUP BY 1),
rx AS (SELECT x AS v, COUNT(*) AS cnt FROM daily GROUP BY x),
rx2 AS (SELECT v, 2 * SUM(cnt) OVER (ORDER BY v) - cnt + 1 AS r2 FROM rx),
ry AS (SELECT y AS v, COUNT(*) AS cnt FROM daily GROUP BY y),
ry2 AS (SELECT v, 2 * SUM(cnt) OVER (ORDER BY v) - cnt + 1 AS r2 FROM ry),
ranked AS (SELECT daily.d, rx2.r2 AS r2x, ry2.r2 AS r2y
           FROM daily JOIN rx2 ON daily.x = rx2.v
                      JOIN ry2 ON daily.y = ry2.v),
s AS (SELECT COUNT(*) AS n,
             CAST(SUM(r2x) AS BIGINT) AS sx,
             CAST(SUM(r2y) AS BIGINT) AS sy,
             CAST(SUM(r2x * r2x) AS BIGINT) AS sxx,
             CAST(SUM(r2y * r2y) AS BIGINT) AS syy,
             CAST(SUM(r2x * r2y) AS BIGINT) AS sxy
      FROM ranked),
pairs AS (SELECT CASE WHEN (a.x < b.x AND a.y < b.y)
                        OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END AS c,
                 CASE WHEN (a.x < b.x AND a.y > b.y)
                        OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END AS dc,
                 CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 ELSE 0 END AS tx,
                 CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 ELSE 0 END AS ty
          FROM daily a JOIN daily b ON a.d < b.d),
k AS (SELECT CAST(SUM(c) AS BIGINT) AS nc, CAST(SUM(dc) AS BIGINT) AS nd,
             CAST(SUM(tx) AS BIGINT) AS ntx, CAST(SUM(ty) AS BIGINT) AS nty
      FROM pairs)
SELECT CAST(s.n AS BIGINT) AS n_days,
       ROUND(CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
             / SQRT(CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE)
                    * CAST(s.n * s.syy - s.sy * s.sy AS DOUBLE)), 6)
           AS spearman,
       k.nc AS n_concordant, k.nd AS n_discordant,
       ROUND(CAST(k.nc - k.nd AS DOUBLE)
             / SQRT(CAST(k.nc + k.nd + k.ntx AS DOUBLE)
                    * CAST(k.nc + k.nd + k.nty AS DOUBLE)), 6)
           AS kendall_tau_b
FROM s, k
""", tags=("stats", "correlation"))
def stats_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank correlations (Spearman rho with tie-averaged ranks,
    Kendall tau-b) between daily order count and daily revenue —
    ORACLE-BACKED through the stats family's exact-arithmetic
    discipline: ranks are carried DOUBLED (2*avg_rank = 2*cum-cnt+1,
    an exact integer even for tied groups), every sufficient
    statistic is an exact int64 sum, and pair concordance/tie counts
    are exact integers — each correlation is then two IEEE ops (one
    multiply under a sqrt, one division) on identical operands.

    Scale shape: the rank windows and the concordance pair join run
    on the DAY-GRAIN aggregate (calendar-bounded, ~2.4k rows — the
    stats_theilsen posture), never on the fact table; the only
    full-data pass is the daily groupBy. For rank correlation over
    unbounded keys the O(n log n) merge-inversion count replaces the
    pair join — at day grain the quadratic-in-days form is smaller
    than its bookkeeping."""
    o = load_table(spark, sf_dir, "orders")
    daily = (o.groupBy(F.to_date("o_orderdate").alias("d"))
             .agg(F.count(F.lit(1)).alias("x"),
                  F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                  .alias("y")))

    def r2_for(col: str) -> DataFrame:
        grp = daily.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        return grp.select("v", (2 * F.sum("cnt").over(w)
                                - F.col("cnt") + 1).alias("r2"))

    rx2 = r2_for("x").select(F.col("v").alias("x"),
                             F.col("r2").alias("r2x"))
    ry2 = r2_for("y").select(F.col("v").alias("y"),
                             F.col("r2").alias("r2y"))
    ranked = daily.join(rx2, "x").join(ry2, "y")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r2x").cast("long").alias("sx"),
        F.sum("r2y").cast("long").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).cast("long").alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).cast("long").alias("syy"),
        F.sum(F.col("r2x") * F.col("r2y")).cast("long").alias("sxy"))
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("xa"),
                     F.col("y").alias("ya"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"),
                     F.col("y").alias("yb"))
    conc = F.when(((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb")))
                  | ((F.col("xa") > F.col("xb"))
                     & (F.col("ya") > F.col("yb"))), 1).otherwise(0)
    disc = F.when(((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb")))
                  | ((F.col("xa") > F.col("xb"))
                     & (F.col("ya") < F.col("yb"))), 1).otherwise(0)
    tiex = F.when((F.col("xa") == F.col("xb"))
                  & (F.col("ya") != F.col("yb")), 1).otherwise(0)
    tiey = F.when((F.col("ya") == F.col("yb"))
                  & (F.col("xa") != F.col("xb")), 1).otherwise(0)
    k = (a.join(b, F.col("da") < F.col("db"))
         .agg(F.sum(conc).cast("long").alias("nc"),
              F.sum(disc).cast("long").alias("nd"),
              F.sum(tiex).cast("long").alias("ntx"),
              F.sum(tiey).cast("long").alias("nty")))
    n = F.col("n")
    spearman = F.round(
        (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / F.sqrt((n * F.col("sxx") - F.col("sx") * F.col("sx"))
                 .cast("double")
                 * (n * F.col("syy") - F.col("sy") * F.col("sy"))
                 .cast("double")), 6)
    tau = F.round(
        (F.col("nc") - F.col("nd")).cast("double")
        / F.sqrt((F.col("nc") + F.col("nd") + F.col("ntx")).cast("double")
                 * (F.col("nc") + F.col("nd") + F.col("nty"))
                 .cast("double")), 6)
    return (s.crossJoin(F.broadcast(k))   # two 1-row frames
            .select(n.cast("long").alias("n_days"),
                    spearman.alias("spearman"),
                    F.col("nc").alias("n_concordant"),
                    F.col("nd").alias("n_discordant"),
                    tau.alias("kendall_tau_b")))
