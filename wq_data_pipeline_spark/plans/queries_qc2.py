"""Catalog batch 2: remaining QC detectors + SentemQC band passes
(SURVEY §2: W4, W6, W9, W12-W14, A2, A6, P11-P15).

Determinism techniques (so Spark and DuckDB hash-match exactly):
- Integer-cents closed forms for window mean/std/variance/slope
  (events.value is 2-decimal): all window sums are exact BIGINT, the
  final double division is bit-identical in both engines.
- Explicit lag/lead expression trees (tri5) — a fixed tree evaluates
  identically; only *aggregate* functions have engine-chosen
  association order.
- Sentinels/sensor codes are synthesized deterministically from
  event_id so the detectors have something to fire on.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from wq_data_pipeline_spark.operators import clean as C
from wq_data_pipeline_spark.operators import detectors as D
from wq_data_pipeline_spark.operators import sentem as SM
from wq_data_pipeline_spark.operators import windows as W
from wq_data_pipeline_spark.sources.testdata import load_table

KEY = ["event_type"]

ORACLE_CLEAN = (
    "WITH clean AS (SELECT event_type, ts, median(value) AS value "
    "FROM events GROUP BY event_type, ts)"
)


def _events_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    return C.resolve_duplicates(ev, KEY, "ts", "value")


def _us(col: str = "ts") -> F.Column:
    return F.unix_micros(F.col(col))


# --- W4: binary-switch (low-run) events ------------------------------------
# events.value has no exact zeros; the run predicate is value <= 5.0
# (same detector, nonzero tolerance), which fires on real data.

def q_w4_binary_switches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: runs of value <= 5.0 with neighboring values; event when
    both (edge-clamped) neighbors are finite and either is above the
    tolerance."""
    d = _events_clean(spark, sf_dir)
    ev = D.detect_binary_switches(d, "value", KEY, "ts", tol=5.0)
    return ev.select(
        "event_type",
        F.unix_micros("start").alias("start_us"),
        F.unix_micros("end").alias("end_us"),
        F.unix_micros("pre").alias("pre_us"),
        F.unix_micros("post").alias("post_us"),
        "pre_val",
        "post_val",
        "n_points",
    )


SQL_W4 = f"""{ORACLE_CLEAN},
lagd AS (
  SELECT event_type, ts, value,
         value IS NOT NULL AND abs(value) <= 5.0 AS in_run,
         lag(ts) OVER w AS prev_ts, lead(ts) OVER w AS next_ts,
         lag(value) OVER w AS prev_val, lead(value) OVER w AS next_val
  FROM clean WINDOW w AS (PARTITION BY event_type ORDER BY ts)
),
isl AS (
  SELECT *, sum(CASE WHEN chg THEN 1 ELSE 0 END)
            OVER (PARTITION BY event_type ORDER BY ts ROWS UNBOUNDED PRECEDING) AS island
  FROM (SELECT *, lag(in_run) OVER (PARTITION BY event_type ORDER BY ts)
               IS DISTINCT FROM in_run AS chg FROM lagd)
),
runs AS (
  -- struct-wrapped min_by/max_by: DuckDB's arg_min/arg_max skip NULL
  -- args, but a struct containing NULL fields is itself non-NULL, so
  -- boundary NULLs (series start/end) survive like Spark's min_by.
  SELECT event_type, island, min(ts) AS start_ts, max(ts) AS end_ts,
         min_by({{'t': prev_ts, 'v': prev_val}}, ts) AS pre_s,
         max_by({{'t': next_ts, 'v': next_val}}, ts) AS post_s,
         min_by(value, ts) AS first_val, max_by(value, ts) AS last_val,
         count(*) AS n_points
  FROM isl WHERE in_run GROUP BY event_type, island
),
clamped AS (
  -- series-edge clamp: missing neighbor row -> the run's own endpoint
  SELECT event_type, start_ts, end_ts, n_points,
         COALESCE(pre_s.t, start_ts) AS pre_ts,
         COALESCE(post_s.t, end_ts) AS post_ts,
         CASE WHEN pre_s.t IS NULL THEN first_val ELSE pre_s.v END AS pre_val,
         CASE WHEN post_s.t IS NULL THEN last_val ELSE post_s.v END AS post_val
  FROM runs
)
SELECT event_type, epoch_us(start_ts) AS start_us, epoch_us(end_ts) AS end_us,
       epoch_us(pre_ts) AS pre_us, epoch_us(post_ts) AS post_us,
       pre_val, post_val, n_points
FROM clamped
WHERE pre_val IS NOT NULL AND post_val IS NOT NULL
  AND (abs(pre_val) > 5.0 OR abs(post_val) > 5.0)"""


# --- W6: rolling OLS slope over integer (seconds, cents) -------------------

_T0 = 1_700_000_000  # epoch-seconds origin near the data; slope invariant


def q_w6_flat_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: centered rolling OLS slope (w=25, minp=5) via the exact
    integer closed form; emit near-flat rows |slope| <= 2e-4."""
    d = _events_clean(spark, sf_dir)
    d = d.withColumn("_c", F.round(F.col("value") * 100).cast("long")).withColumn(
        "_t", (F.unix_micros("ts") / F.lit(1_000_000)).cast("long") - F.lit(_T0)
    )
    frame = W.centered(25, KEY, "ts")
    tobs = F.when(F.col("_c").isNotNull(), F.col("_t"))
    n = F.count("_c").over(frame)
    st = F.sum(tobs).over(frame)
    sy = F.sum("_c").over(frame)
    sty = F.sum(tobs * F.col("_c")).over(frame)
    stt = F.sum(tobs * tobs).over(frame)
    num = (n * sty - st * sy).cast("double")
    den = (n * stt - st * st).cast("double")
    slope = F.when((n >= 5) & (den != 0), num / den / F.lit(100.0))
    d = d.withColumn("slope", slope)
    return d.filter(F.abs(F.col("slope")) <= 2e-4).select(
        "event_type", _us().alias("ts_us"), "slope"
    )


SQL_W6 = f"""{ORACLE_CLEAN},
c AS (
  SELECT event_type, ts,
         CAST(round(value * 100) AS BIGINT) AS c,
         epoch_us(ts) // 1000000 - {_T0} AS t
  FROM clean
),
s AS (
  SELECT event_type, ts,
         count(c) OVER w AS n, sum(t) OVER w AS st, sum(c) OVER w AS sy,
         sum(t * c) OVER w AS sty, sum(t * t) OVER w AS stt
  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
)
SELECT event_type, epoch_us(ts) AS ts_us,
       CAST(n * sty - st * sy AS DOUBLE) / CAST(n * stt - st * st AS DOUBLE) / 100.0 AS slope
FROM s
WHERE n >= 5 AND n * stt - st * st <> 0
  AND abs(CAST(n * sty - st * sy AS DOUBLE) / CAST(n * stt - st * st AS DOUBLE) / 100.0) <= 2e-4"""


# --- W9: isolated groups ----------------------------------------------------

def q_w9_isolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: sparsify (value < 200 -> NULL), then flag finite runs of
    <= 2 points with > 30 min time gap to the neighboring rows on
    both sides."""
    d = _events_clean(spark, sf_dir)
    d = d.withColumn("value", F.when(F.col("value") >= 200.0, F.col("value")))
    out = D.detect_isolated_groups(
        d, "value", KEY, "ts", max_group_points=2, min_gap_seconds=1800.0
    )
    return out.filter(F.col("flag_isolated")).select(
        "event_type", _us().alias("ts_us"), "value"
    )


SQL_W9 = f"""{ORACLE_CLEAN},
sp AS (
  SELECT event_type, ts, CASE WHEN value >= 200.0 THEN value END AS value
  FROM clean
),
fin AS (
  SELECT *, value IS NOT NULL AS is_fin,
         lag(ts) OVER w AS prev_ts, lead(ts) OVER w AS next_ts
  FROM sp WINDOW w AS (PARTITION BY event_type ORDER BY ts)
),
isl AS (
  SELECT *, sum(CASE WHEN chg THEN 1 ELSE 0 END)
            OVER (PARTITION BY event_type ORDER BY ts ROWS UNBOUNDED PRECEDING) AS island
  FROM (SELECT *, lag(is_fin) OVER (PARTITION BY event_type ORDER BY ts)
               IS DISTINCT FROM is_fin AS chg FROM fin)
),
groups AS (
  SELECT event_type, island, count(*) AS npts,
         min(ts) AS first_ts, max(ts) AS last_ts,
         min_by({{'t': prev_ts}}, ts).t AS before_ts,
         max_by({{'t': next_ts}}, ts).t AS after_ts
  FROM isl WHERE is_fin GROUP BY event_type, island
),
flagged AS (
  SELECT event_type, island,
         npts <= 2
         AND before_ts IS NOT NULL
         AND (epoch_us(first_ts) - epoch_us(before_ts)) / 1e6 > 1800.0
         AND after_ts IS NOT NULL
         AND (epoch_us(after_ts) - epoch_us(last_ts)) / 1e6 > 1800.0 AS isolated
  FROM groups
)
SELECT i.event_type, epoch_us(i.ts) AS ts_us, i.value
FROM isl i JOIN flagged f ON i.event_type = f.event_type AND i.island = f.island
WHERE i.is_fin AND f.isolated"""


# --- A2: sentinel masking (sentinels synthesized from event_id) ------------

def q_a2_sentinels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: inject sentinels (-9999 at event_id%97==0, -9 at %131==0,
    -99 at %5003==0 — the last stays under both activation thresholds
    and must NOT be masked), then run two-pass masking; report per-key
    mask counts."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    v = (
        F.when(F.col("event_id") % 97 == 0, -9999.0)
        .when(F.col("event_id") % 131 == 0, -9.0)
        .when(F.col("event_id") % 5003 == 0, -99.0)
        .otherwise(F.col("value"))
    )
    d = ev.withColumn("value", v)
    masked = C.mask_sentinels(d, KEY, "value", min_count=5, min_frac=0.001)
    return masked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("int")).alias("n_masked"),
        F.sum((F.col("value") == -99.0).cast("int")).alias("n_unmasked_99"),
    )


SQL_A2 = """
WITH inj AS (
  SELECT event_type,
         CASE WHEN event_id % 97 = 0 THEN -9999.0
              WHEN event_id % 131 = 0 THEN -9.0
              WHEN event_id % 5003 = 0 THEN -99.0
              ELSE value END AS value
  FROM events
),
cnt AS (
  SELECT event_type, count(*) AS n,
         sum(CASE WHEN value = -9.0 THEN 1 ELSE 0 END) AS c9,
         sum(CASE WHEN value = -99.0 THEN 1 ELSE 0 END) AS c99,
         sum(CASE WHEN value = -999.0 THEN 1 ELSE 0 END) AS c999,
         sum(CASE WHEN value = -9999.0 THEN 1 ELSE 0 END) AS c9999
  FROM inj GROUP BY event_type
),
msk AS (
  SELECT i.event_type,
         CASE WHEN (i.value = -9.0 AND (c.c9 >= 5 OR c.c9 / c.n >= 0.001))
                OR (i.value = -99.0 AND (c.c99 >= 5 OR c.c99 / c.n >= 0.001))
                OR (i.value = -999.0 AND (c.c999 >= 5 OR c.c999 / c.n >= 0.001))
                OR (i.value = -9999.0 AND (c.c9999 >= 5 OR c.c9999 / c.n >= 0.001))
              THEN NULL ELSE i.value END AS value
  FROM inj i JOIN cnt c USING (event_type)
)
SELECT event_type, count(*) AS n_rows,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       CAST(sum(CASE WHEN value = -99.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unmasked_99
FROM msk GROUP BY event_type"""


# --- A6 second half: quantization-step scoring -----------------------------

def q_a6_quant_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: score the median |diff| as a quantization-step candidate:
    share of positive diffs that are integer multiples (atol 1e-3).
    Exact-cents diffs make the ratio test deterministic."""
    d = _events_clean(spark, sf_dir)
    d = d.withColumn("_c", F.round(F.col("value") * 100).cast("long"))
    w = W.ordered(KEY, "ts")
    d = d.withColumn("_dc", F.abs(F.col("_c") - F.lag("_c").over(w)))
    pos = d.filter(F.col("_dc") > 0)
    med = pos.groupBy(*KEY).agg(
        F.percentile(F.col("_dc"), F.lit(0.5)).alias("cand_cents")
    )
    j = pos.join(F.broadcast(med), on=KEY)
    ratio = F.col("_dc") / F.col("cand_cents")
    hit = (F.abs(ratio - F.round(ratio)) < 1e-3).cast("double")
    return j.groupBy("event_type", "cand_cents").agg(
        F.round(F.avg(hit), 4).alias("score"),
        F.count(F.lit(1)).alias("n_diffs"),
    )


SQL_A6B = f"""{ORACLE_CLEAN},
c AS (SELECT event_type, ts, CAST(round(value * 100) AS BIGINT) AS c FROM clean),
d AS (
  SELECT event_type,
         abs(c - lag(c) OVER (PARTITION BY event_type ORDER BY ts)) AS dc
  FROM c
),
pos AS (SELECT * FROM d WHERE dc > 0),
med AS (SELECT event_type, quantile_cont(dc, 0.5) AS cand_cents FROM pos GROUP BY event_type)
SELECT p.event_type, m.cand_cents,
       round(avg(CASE WHEN abs(p.dc / m.cand_cents - round(p.dc / m.cand_cents)) < 1e-3
                      THEN 1.0 ELSE 0.0 END), 4) AS score,
       count(*) AS n_diffs
FROM pos p JOIN med m USING (event_type)
GROUP BY p.event_type, m.cand_cents"""


# --- W12+W14: SentemQC band pass (cents-exact) -----------------------------

def q_w12_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12+W14+W15: one band pass (w=48 even -> pandas left-heavy
    frame, minp=15, sf=3, 10% uncertainty envelope). Mean/std via
    exact integer sums; flag 200 where the envelope clears a band.
    The W15 band-support mask (scripts/sentemqc.py:105-107) is the
    same rolling finite-count that gates ma/sd — emitted explicitly
    as (support, band_ok) so the driver row checks all three ops."""
    d = _events_clean(spark, sf_dir)
    d = d.withColumn("_c", F.round(F.col("value") * 100).cast("long"))
    frame = W.centered(48, KEY, "ts")  # rows [-24, +23]
    n = F.count("_c").over(frame)
    s1 = F.sum("_c").over(frame)
    s2 = F.sum(F.col("_c") * F.col("_c")).over(frame)
    ma = s1.cast("double") / n.cast("double") / F.lit(100.0)
    sd = (
        F.sqrt((n * s2 - s1 * s1).cast("double")) / n.cast("double") / F.lit(100.0)
    )
    ok = n >= 15
    d = (
        d.withColumn("support", n)
        .withColumn("band_ok", ok)
        .withColumn("ma", F.when(ok, ma))
        .withColumn("sd", F.when(ok, sd))
    )
    top = F.col("ma") + F.lit(3.0) * F.col("sd")
    bottom = F.col("ma") - F.lit(3.0) * F.col("sd")
    hi, lo = F.col("value") * 1.1, F.col("value") * 0.9
    flagged = F.coalesce(((hi > top) & (lo > top)) | ((hi < bottom) & (lo < bottom)), F.lit(False))
    flag = F.when(flagged, 200).otherwise(100)
    return d.select(
        "event_type",
        _us().alias("ts_us"),
        "support",
        "band_ok",
        "ma",
        "sd",
        flag.alias("flag_band"),
    )


SQL_W12 = f"""{ORACLE_CLEAN},
c AS (SELECT event_type, ts, value, CAST(round(value * 100) AS BIGINT) AS c FROM clean),
s AS (
  SELECT event_type, ts, value,
         count(c) OVER w AS n, sum(c) OVER w AS s1, sum(c * c) OVER w AS s2
  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 24 PRECEDING AND 23 FOLLOWING)
),
b AS (
  SELECT event_type, ts, value, n AS support, n >= 15 AS band_ok,
         CASE WHEN n >= 15 THEN CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 END AS ma,
         CASE WHEN n >= 15 THEN sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0 END AS sd
  FROM s
)
SELECT event_type, epoch_us(ts) AS ts_us, support, band_ok, ma, sd,
       CASE WHEN COALESCE((value * 1.1 > ma + 3.0 * sd AND value * 0.9 > ma + 3.0 * sd)
                       OR (value * 1.1 < ma - 3.0 * sd AND value * 0.9 < ma - 3.0 * sd), FALSE)
            THEN 200 ELSE 100 END AS flag_band
FROM b"""


# --- W13: triangular 5-point weighted mean/std (expression tree) -----------

def q_w13_tri5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13: tri5 weighted mean/std through the library's tap algebra —
    a fixed expression tree is bit-deterministic cross-engine."""
    d = _events_clean(spark, sf_dir)
    ma, sd = SM.tri5_mean_std("value", KEY, "ts")
    d = d.withColumns({"tri_ma": ma, "tri_sd": sd})
    return d.select("event_type", _us().alias("ts_us"), "tri_ma", "tri_sd")


SQL_W13 = f"""{ORACLE_CLEAN},
t AS (
  SELECT event_type, ts,
         lag(value, 2) OVER w AS a, lag(value, 1) OVER w AS b, value AS x,
         lead(value, 1) OVER w AS d, lead(value, 2) OVER w AS e
  FROM clean WINDOW w AS (PARTITION BY event_type ORDER BY ts)
),
s AS (
  SELECT event_type, ts,
         (CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN b IS NOT NULL THEN 1 ELSE 0 END)
         + (CASE WHEN x IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d IS NOT NULL THEN 1 ELSE 0 END)
         + (CASE WHEN e IS NOT NULL THEN 1 ELSE 0 END) AS nfin,
         0.0 + (CASE WHEN a IS NOT NULL THEN 1.0 ELSE 0.0 END) + (CASE WHEN b IS NOT NULL THEN 2.0 ELSE 0.0 END)
             + (CASE WHEN x IS NOT NULL THEN 3.0 ELSE 0.0 END) + (CASE WHEN d IS NOT NULL THEN 2.0 ELSE 0.0 END)
             + (CASE WHEN e IS NOT NULL THEN 1.0 ELSE 0.0 END) AS wsum,
         0.0 + COALESCE(a, 0.0) * 1.0 + COALESCE(b, 0.0) * 2.0 + COALESCE(x, 0.0) * 3.0
             + COALESCE(d, 0.0) * 2.0 + COALESCE(e, 0.0) * 1.0 AS sx,
         0.0 + COALESCE(a, 0.0) * COALESCE(a, 0.0) * 1.0 + COALESCE(b, 0.0) * COALESCE(b, 0.0) * 2.0
             + COALESCE(x, 0.0) * COALESCE(x, 0.0) * 3.0 + COALESCE(d, 0.0) * COALESCE(d, 0.0) * 2.0
             + COALESCE(e, 0.0) * COALESCE(e, 0.0) * 1.0 AS sxx
  FROM t
)
SELECT event_type, epoch_us(ts) AS ts_us,
       CASE WHEN nfin >= 3 THEN sx / wsum END AS tri_ma,
       CASE WHEN nfin >= 3 THEN sqrt(greatest(sxx / wsum - (sx / wsum) * (sx / wsum), 0.0)) END AS tri_sd
FROM s"""


# --- P11-P13 + P15: sensor flags, combine, reasons, accepted ---------------

def q_sentem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11+P12+P13+P15: per-code sensor rules (code derived from
    event_type deterministically), any-of combine, space-joined
    reasons, masked value."""
    d = _events_clean(spark, sf_dir)
    # deterministic per-key sensor code: errors behave like code 410
    # (pH-style bounds), others like 400 (O2-style); value scaled into
    # the rule range so the rules actually fire. No rounding: a pure
    # division is bit-deterministic, a decimal round can straddle the
    # .5 boundary differently across engines.
    d = d.withColumn("obs", F.col("value") / 10.0)
    f_sensor = F.when(
        F.col("event_type").isin("error", "signup"),
        SM.sensor_error_flag("obs", 410),
    ).otherwise(SM.sensor_error_flag("obs", 400))
    d = d.withColumn("flag_sensor", f_sensor)
    d = d.withColumn(
        "flag_range",
        F.when(F.coalesce((F.col("obs") < 0.5) | (F.col("obs") > 30.0), F.lit(True)), 200).otherwise(100),
    )
    d = d.withColumn(
        "flag_global", SM.combine_flags_200(F.col("flag_sensor"), F.col("flag_range"))
    )
    d = d.withColumn(
        "flag_reason",
        SM.flag_reasons(
            {"flag_sensor": F.col("flag_sensor"), "flag_range": F.col("flag_range")}
        ),
    )
    d = d.withColumn(
        "value_masked", F.when(F.col("flag_global") == 200, None).otherwise(F.col("obs"))
    )
    return d.select(
        "event_type", _us().alias("ts_us"), "obs",
        "flag_sensor", "flag_range", "flag_global", "flag_reason", "value_masked",
    )


SQL_SENTEM_FLAGS = f"""{ORACLE_CLEAN},
o AS (SELECT event_type, ts, value / 10.0 AS obs FROM clean),
fl AS (
  SELECT event_type, ts, obs,
         CASE WHEN event_type IN ('error', 'signup')
              THEN CASE WHEN obs IS NULL OR obs = 0.0 OR obs >= 13.0 OR obs < 0.0 THEN 200 ELSE 100 END
              ELSE CASE WHEN obs IS NULL OR obs IN (30.0, 25.0, 0.0) OR obs >= 40.0 THEN 200 ELSE 100 END
         END AS flag_sensor,
         CASE WHEN COALESCE(obs < 0.5 OR obs > 30.0, TRUE) THEN 200 ELSE 100 END AS flag_range
  FROM o
)
SELECT event_type, epoch_us(ts) AS ts_us, obs, flag_sensor, flag_range,
       CASE WHEN greatest(flag_sensor, flag_range) = 200 THEN 200 ELSE 100 END AS flag_global,
       trim(concat_ws(' ', CASE WHEN flag_sensor = 200 THEN 'flag_sensor' END,
                           CASE WHEN flag_range = 200 THEN 'flag_range' END)) AS flag_reason,
       CASE WHEN greatest(flag_sensor, flag_range) = 200 THEN NULL ELSE obs END AS value_masked
FROM fl"""


# --- P7/P14/P15: full fallback flag suite -> 0/255 + accepted --------------

def q_qc_accepted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """apply_saqc_suite fallback assembly (reference
    scripts/ufz_water_qc_pipeline.py:459-589): range + jumps + robust-z
    flags OR-combined to 0/255; accepted = value where unflagged (P15).
    Summarized per key (full row set is covered by the component
    queries)."""
    d = _events_clean(spark, sf_dir)
    d = D.flag_robust_z(d, "value", 25, 3.5, KEY, "ts", out="f_z")
    d = d.withColumn("f_range", D.flag_range("value", 1.0, 480.0))
    d = d.withColumn("f_jump", D.flag_jumps("value", 200.0, KEY, "ts"))
    combined = D.merge_flags(F.col("f_range"), F.col("f_jump"), F.col("f_z"))
    d = d.withColumn("flag_code", D.flags_to_code(combined))
    d = d.withColumn("accepted", F.when(combined, None).otherwise(F.col("value")))
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("flag_code") == 255).cast("int")).alias("n_flagged"),
        F.sum(F.col("f_range").cast("int")).alias("n_range"),
        F.sum(F.col("f_jump").cast("int")).alias("n_jump"),
        F.sum(F.col("f_z").cast("int")).alias("n_z"),
        F.count("accepted").alias("n_accepted"),
    )


SQL_QC_ACCEPTED = f"""{ORACLE_CLEAN},
med AS (
  SELECT event_type, ts, value,
         CASE WHEN count(value) OVER w >= 8 THEN median(value) OVER w END AS m
  FROM clean WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
madt AS (
  SELECT event_type, ts, value, m,
         CASE WHEN count(abs(value - m)) OVER w >= 8 THEN median(abs(value - m)) OVER w END AS mad
  FROM med WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
fl AS (
  SELECT event_type, ts, value,
         COALESCE(CASE WHEN mad > 0 THEN abs(0.6745 * (value - m) / mad) >= 3.5 END, FALSE) AS f_z,
         COALESCE(value < 1.0 OR value > 480.0, FALSE) AS f_range,
         COALESCE(abs(value - lag(value) OVER (PARTITION BY event_type ORDER BY ts)) >= 200.0, FALSE) AS f_jump
  FROM madt
)
SELECT event_type, count(*) AS n_rows,
       CAST(sum(CASE WHEN f_range OR f_jump OR f_z THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(sum(CASE WHEN f_range THEN 1 ELSE 0 END) AS BIGINT) AS n_range,
       CAST(sum(CASE WHEN f_jump THEN 1 ELSE 0 END) AS BIGINT) AS n_jump,
       CAST(sum(CASE WHEN f_z THEN 1 ELSE 0 END) AS BIGINT) AS n_z,
       count(CASE WHEN NOT (f_range OR f_jump OR f_z) THEN value END) AS n_accepted
FROM fl GROUP BY event_type"""


QUERIES2: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "w4_binary_switches": q_w4_binary_switches,
    "w6_flat_slopes": q_w6_flat_slopes,
    "w9_isolated": q_w9_isolated,
    "a2_sentinels": q_a2_sentinels,
    "a6_quant_step": q_a6_quant_step,
    "w12_bands": q_w12_bands,
    "w13_tri5": q_w13_tri5,
    "sentem_flags": q_sentem_flags,
    "qc_accepted": q_qc_accepted,
}

ORACLES2: dict[str, str] = {
    "w4_binary_switches": SQL_W4,
    "w6_flat_slopes": SQL_W6,
    "w9_isolated": SQL_W9,
    "a2_sentinels": SQL_A2,
    "a6_quant_step": SQL_A6B,
    "w12_bands": SQL_W12,
    "w13_tri5": SQL_W13,
    "sentem_flags": SQL_SENTEM_FLAGS,
    "qc_accepted": SQL_QC_ACCEPTED,
}
