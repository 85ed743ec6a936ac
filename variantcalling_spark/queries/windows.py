"""Window / ordered operator queries (SURVEY.md §2.5, §2.6).

The events table plays the part of the sorted genomic record stream:
``user_id`` is the contig (partition key), ``ts_us`` the position, and
``value``-derived spans stand in for record extents (deletion spans,
gVCF blocks). Every operator here is a pure window-function plan — the
reference's sequential Python scans re-expressed as partitioned,
horizontally-scalable windows.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from variantcalling_spark.operators.metrics import pr_curve
from variantcalling_spark.operators.ordered import (
    every_nth,
    histogram_percentiles,
    merge_intervals,
    running_extent_dedup,
)
from variantcalling_spark.queries import query
from variantcalling_spark.queries._helpers import cnt, dec, managed_persist
from variantcalling_spark.sources import load_table
from variantcalling_spark.queries.intervals import events_points
from variantcalling_spark._persist import lineage_cut

# Shared SQL fragment: events as extent rows (start/end in us); the span is
# value seconds long (value is 2-decimal, so ROUND(value*1e6) is exact).
SQL_EV_SPANS = """
  SELECT event_id, user_id, event_type,
         epoch_us(ts) AS start_us,
         epoch_us(ts) + CAST(ROUND(value * 1000000) AS BIGINT) AS end_us
  FROM events
"""


def event_spans(spark, sf_dir):
    ev = events_points(spark, sf_dir)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts_us").alias("start_us"),
        (F.col("ts_us") + F.round(F.col("value") * 1000000).cast("bigint")).alias(
            "end_us"
        ),
    )


@query(
    "q40_pr_curve",
    oracle="""
WITH ev AS (
  SELECT value AS score,
         CASE WHEN event_type = 'purchase' THEN 'tp' ELSE 'fp' END AS label
  FROM events WHERE event_type IN ('purchase', 'error')
),
per_score AS (
  SELECT score,
         COUNT(*) FILTER (WHERE label = 'tp') AS n_tp,
         COUNT(*) FILTER (WHERE label = 'fp') AS n_fp
  FROM ev GROUP BY score
),
cum AS (
  SELECT score,
         CAST(SUM(n_tp) OVER w AS BIGINT) AS cum_tp,
         CAST(SUM(n_fp) OVER w AS BIGINT) AS cum_fp,
         CAST(SUM(n_tp) OVER () AS BIGINT) AS tot_tp
  FROM per_score
  WINDOW w AS (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT score AS threshold, cum_tp, cum_fp,
       tot_tp - cum_tp AS cum_fn,
       cum_tp / CAST(cum_tp + cum_fp AS DOUBLE) AS precision,
       CASE WHEN tot_tp > 0 THEN cum_tp / CAST(tot_tp AS DOUBLE) END AS recall,
       CASE WHEN cum_tp > 0 THEN
         2 * (cum_tp / CAST(cum_tp + cum_fp AS DOUBLE)) * (cum_tp / CAST(tot_tp AS DOUBLE))
           / ((cum_tp / CAST(cum_tp + cum_fp AS DOUBLE)) + (cum_tp / CAST(tot_tp AS DOUBLE)))
       ELSE 0.0 END AS f1
FROM cum
""",
)
def q40_pr_curve(spark, sf_dir):
    """Cumulative-sum precision/recall curve over score thresholds.

    Re-expresses `calc_recall_precision_curve` (`report_utils.py:493-505`,
    `stats_utils.py:141-210`, pinned `test_stats_utils.py:124-157`):
    events labeled tp (purchase) / fp (error), scored by `value`. One
    groupBy per distinct score + one cumulative window — deterministic
    under score ties, single shuffle, scales to any callset size.
    """
    ev = (
        events_points(spark, sf_dir)
        .where(F.col("event_type").isin("purchase", "error"))
        .select(
            F.col("value").alias("score"),
            F.when(F.col("event_type") == "purchase", "tp").otherwise("fp").alias("label"),
        )
    )
    return pr_curve(ev, "score", "label")


@query(
    "q41_running_extent_dedup",
    oracle=f"""
WITH iv AS ({SQL_EV_SPANS}),
flagged AS (
  SELECT user_id, start_us, end_us,
         COALESCE(start_us >= MAX(end_us) OVER w, TRUE) AS kept
  FROM iv
  WINDOW w AS (PARTITION BY user_id ORDER BY start_us, end_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id,
       COUNT(*) AS n_total,
       COUNT(*) FILTER (WHERE kept) AS n_kept,
       COUNT(*) FILTER (WHERE NOT kept) AS n_skipped
FROM flagged GROUP BY user_id
""",
)
def q41_running_extent_dedup(spark, sf_dir):
    """Running-extent dedup: drop records overlapped by any earlier extent.

    `gvcf_bed.py:38-69` (skip record if start < running max end on same
    chrom; pinned skipped==241 `test_gvcf_bed.py:13-31`) as a pure window:
    `max(end) OVER (partition ORDER BY pos ROWS ... 1 PRECEDING)`.
    """
    spans = event_spans(spark, sf_dir)
    flagged = running_extent_dedup(
        spans,
        part_cols=["user_id"],
        order_cols=["start_us", "end_us", "event_id"],
        start_col="start_us",
        end_col="end_us",
    )
    return flagged.groupBy("user_id").agg(
        cnt("n_total"),
        F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
        F.count(F.when(~F.col("kept"), 1)).alias("n_skipped"),
    )


@query(
    "q42_interval_merge",
    oracle=f"""
WITH iv AS ({SQL_EV_SPANS}),
b AS (
  SELECT user_id, start_us, end_us,
         CASE WHEN MAX(end_us) OVER w IS NULL OR start_us > MAX(end_us) OVER w
              THEN 1 ELSE 0 END AS is_break
  FROM iv
  WINDOW w AS (PARTITION BY user_id ORDER BY start_us, end_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl AS (
  SELECT user_id, start_us, end_us,
         SUM(is_break) OVER (PARTITION BY user_id ORDER BY start_us, end_us
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM b
)
SELECT user_id,
       MIN(start_us) AS start_us,
       MAX(end_us) AS end_us,
       COUNT(*) AS n_merged
FROM isl GROUP BY user_id, island
""",
)
def q42_interval_merge(spark, sf_dir):
    """Union-of-overlaps interval merge (gaps-and-islands).

    `bedtools merge` (`gvcf_hcr_main.py:30-33`, `test_gvcf_bed.py:18-20`):
    break where start exceeds running max(end); islands -> min/max/count.
    Partitioned by contig (user), two windows + one groupBy.
    """
    spans = event_spans(spark, sf_dir)
    return merge_intervals(
        spans.select("user_id", "start_us", "end_us"),
        part_cols=["user_id"],
        start_col="start_us",
        end_col="end_us",
    )


@query(
    "q43_every_nth",
    oracle=f"""
SELECT event_id, user_id
FROM (
  SELECT event_id, user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
)
WHERE (rn - 1) % 10 = 0
""",
)
def q43_every_nth(spark, sf_dir):
    """Every-nth-row downsample per partition (`df.iloc[::space]`,
    `coverage_analysis.py:1154-1156`)."""
    ev = events_points(spark, sf_dir).select("event_id", "user_id", "ts_us")
    return every_nth(ev, ["user_id"], ["ts_us", "event_id"], 10).select(
        "event_id", "user_id"
    )


@query(
    "q44_histogram_percentiles",
    oracle="""
WITH hist AS (
  SELECT event_type, value, COUNT(*) AS cnt
  FROM events GROUP BY event_type, value
),
cdf AS (
  SELECT event_type, value,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS tot
  FROM hist
)
SELECT event_type,
       MIN(CASE WHEN cum >= CEIL(0.05 * tot) THEN value END) AS p05,
       MIN(CASE WHEN cum >= CEIL(0.25 * tot) THEN value END) AS p25,
       MIN(CASE WHEN cum >= CEIL(0.50 * tot) THEN value END) AS p50,
       MIN(CASE WHEN cum >= CEIL(0.75 * tot) THEN value END) AS p75,
       MIN(CASE WHEN cum >= CEIL(0.95 * tot) THEN value END) AS p95
FROM cdf GROUP BY event_type
""",
)
def q44_histogram_percentiles(spark, sf_dir):
    """Exact Q5/Q25/Q50/Q75/Q95 via histogram-CDF — the reference's own
    percentile method (`generate_stats_from_histogram`,
    `coverage_analysis.py:522,960-996`, golden
    `test/system/test_coverage_analysis.py:24-35`). Aggregating the
    histogram first means the window runs over distinct values, not raw
    rows — the same trick that makes this viable over 3.1e9 base rows.
    """
    ev = events_points(spark, sf_dir)
    return histogram_percentiles(
        ev, "value", ["event_type"], [0.05, 0.25, 0.50, 0.75, 0.95]
    )


@query(
    "q45_hierarchical_rollup",
    oracle="""
SELECT event_type,
       epoch_us(ts) // 86400000000 AS day_bin,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum,
       COUNT(*) AS n
FROM events
GROUP BY event_type, epoch_us(ts) // 86400000000
""",
)
def q45_hierarchical_rollup(spark, sf_dir):
    """Hierarchical window binning: daily aggregates REUSING hourly partials.

    `coverage_analysis.py:435-439,546-592` computes each window size from
    the previous (w1 | w2). Here the hourly partial aggregate rolls up to
    daily (hour DIV 24 == us DIV day since epoch-aligned) — demonstrating
    partial-agg reuse; the oracle aggregates directly, results identical
    because decimal sums re-aggregate exactly.
    """
    ev = events_points(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.expr("ts_us DIV 3600000000").alias("hour_bin")
    ).agg(F.sum(dec("value")).alias("vsum"), cnt("n"))
    return (
        hourly.groupBy(
            "event_type", F.expr("hour_bin DIV 24").alias("day_bin")
        )
        .agg(
            F.sum("vsum").cast("double").alias("value_sum"),
            F.sum("n").alias("n"),
        )
    )


@query(
    "q46_score_direction",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
)
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS first20_avg
FROM ranked WHERE rn <= 20
GROUP BY event_type
""",
)
def q46_score_direction(spark, sf_dir):
    """Score-direction probe: mean of the first 20 rows per class.

    `report_utils.py:435-440` decides score sign by comparing the mean of
    the first-20 PASS vs non-PASS scores — windowed `row_number() <= 20`
    + conditional aggregate.
    """
    ev = events_points(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("ts_us", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .groupBy("event_type")
        .agg((F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias("first20_avg"))
    )


HOUR_US_Q156 = 3_600_000_000


@query(
    "q156_gap_interpolation",
    oracle=f"""
WITH pts AS (
  SELECT user_id % 5 AS grp,
         (epoch_us(ts) // {HOUR_US_Q156}) AS hr,
         CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS v
  FROM events
  GROUP BY 1, 2
),
known AS (SELECT * FROM pts WHERE hr % 3 = 0),
bounds AS (SELECT grp, MIN(hr) AS h0, MAX(hr) AS h1 FROM known GROUP BY grp),
grid AS (SELECT grp, unnest(generate_series(h0, h1)) AS hr FROM bounds),
nb AS (
  SELECT g.grp, g.hr, k.v,
         LAST_VALUE(k.v IGNORE NULLS)
           OVER (PARTITION BY g.grp ORDER BY g.hr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         LAST_VALUE(CASE WHEN k.v IS NOT NULL THEN g.hr END IGNORE NULLS)
           OVER (PARTITION BY g.grp ORDER BY g.hr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
         FIRST_VALUE(k.v IGNORE NULLS)
           OVER (PARTITION BY g.grp ORDER BY g.hr
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         FIRST_VALUE(CASE WHEN k.v IS NOT NULL THEN g.hr END IGNORE NULLS)
           OVER (PARTITION BY g.grp ORDER BY g.hr
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM grid g LEFT JOIN known k ON k.grp = g.grp AND k.hr = g.hr
)
SELECT grp, hr,
       CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS interpolated,
       ROUND(CASE
         WHEN v IS NOT NULL THEN v
         ELSE pv + (nv - pv) * CAST(hr - ph AS DOUBLE) / (nh - ph)
       END, 6) AS value
FROM nb
""",
)
def q156_gap_interpolation(spark, sf_dir):
    """Linear gap interpolation over a keyed series — the imputation
    step behind masked-region coverage fills and evenly-gridded
    time-series features (pandas ``interpolate(method='linear')``
    semantics, distributed): known hourly revenue points (every 3rd
    hour kept, the rest masked) are re-gridded to every hour and the
    gaps linearly interpolated between bracketing knowns. Exact by
    construction: DECIMAL hourly sums, integer hour arithmetic, one
    rounded quotient per filled row; edge rows outside the known hull
    never appear (the grid spans [min known, max known] per key). Plan:
    per-key bounds -> F.sequence grid explode -> equi-join knowns ->
    two bounded-direction windows (last/first ignoreNulls) partitioned
    by key — no self-join, no point x point pairing; at genome scale
    the key is the contig bucket, exactly q44/q45's partitioning."""
    pts = (
        events_points(spark, sf_dir)
        .groupBy(
            "grp", F.expr(f"ts_us DIV {HOUR_US_Q156}").alias("hr")
        )
        .agg(
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("v")
        )
    )
    known = pts.where(F.col("hr") % 3 == 0)
    bounds = known.groupBy("grp").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = bounds.select(
        "grp", F.explode(F.sequence("h0", "h1")).alias("hr")
    )
    g = grid.join(known, ["grp", "hr"], "left")
    wp = W.partitionBy("grp").orderBy("hr").rowsBetween(W.unboundedPreceding, 0)
    wf = W.partitionBy("grp").orderBy("hr").rowsBetween(0, W.unboundedFollowing)
    known_hr = F.when(F.col("v").isNotNull(), F.col("hr"))
    nb = g.select(
        "grp",
        "hr",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(known_hr, ignorenulls=True).over(wp).alias("ph"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(known_hr, ignorenulls=True).over(wf).alias("nh"),
    )
    return nb.select(
        "grp",
        "hr",
        F.when(F.col("v").isNotNull(), 0).otherwise(1).cast("int").alias(
            "interpolated"
        ),
        F.round(
            F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
                F.col("pv")
                + (F.col("nv") - F.col("pv"))
                * (F.col("hr") - F.col("ph")).cast("double")
                / (F.col("nh") - F.col("ph"))
            ),
            6,
        ).alias("value"),
    )


@query(
    "q165_groupwise_ols_trend",
    oracle=f"""
WITH pts AS (
  SELECT user_id % 5 AS grp,
         CAST(epoch_us(ts) // {HOUR_US_Q156} AS BIGINT) AS x,
         CAST(SUM(CAST(value AS DECIMAL(14,2))) * 100 AS BIGINT) AS yc
  FROM events GROUP BY 1, 2
),
b AS (SELECT grp, MIN(x) AS x0 FROM pts GROUP BY grp),
z AS (
  SELECT p.grp, p.x - b.x0 AS x, p.yc
  FROM pts p JOIN b USING (grp)
),
s AS (
  SELECT grp,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(yc) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * yc) AS BIGINT) AS sxy,
         CAST(SUM(yc * yc) AS BIGINT) AS syy
  FROM z GROUP BY grp
)
, h AS (
  SELECT grp, n,
         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS det,
         CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy AS inum,
         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vary
  FROM s
)
SELECT grp, CAST(n AS BIGINT) AS n,
       ROUND(CAST(num AS DOUBLE) / (100.0 * CAST(det AS DOUBLE)), 6) AS slope,
       ROUND(CAST(inum AS DOUBLE) / (100.0 * CAST(det AS DOUBLE)), 6)
         AS intercept,
       ROUND(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
             / (CAST(det AS DOUBLE) * CAST(vary AS DOUBLE)), 6) AS r2
FROM h
""",
)
def q165_groupwise_ols_trend(spark, sf_dir):
    """Per-group ordinary-least-squares trend line — the QC regression
    behind 'is coverage drifting along the flow cell / is activity
    trending' dashboards: slope, intercept, and R² of the hourly value
    series per group, EXACT from sufficient statistics. All five OLS
    sums (Σx, Σy, Σx², Σxy, Σy²) accumulate as BIGINTs (x re-based per
    group so x² sums stay small; y in exact cents via the DECIMAL
    aggregate ×100), so the closed-form slope/intercept/R² are single
    rounded divisions of integer-valued terms — no float summation
    order anywhere, the same discipline as q152/q153. Plan: the hourly
    rollup groupBy, a per-group min join (broadcast-tiny), one
    sufficient-stats groupBy — map-side combinable throughout; the
    regression itself is a projection. At 100 TB this is the canonical
    'reduce to sufficient statistics' shape — no point ever pairs with
    another point."""
    # cents stay on the DECIMAL path end to end: a *100-via-double
    # detour would truncate on Spark but round on DuckDB for values the
    # binary fraction cannot represent (measured: sy off by 49 cents)
    pts = (
        events_points(spark, sf_dir)
        .groupBy("grp", F.expr(f"ts_us DIV {HOUR_US_Q156}").alias("x"))
        .agg(
            (F.sum(F.col("value").cast("decimal(14,2)")) * 100)
            .cast("bigint")
            .alias("yc")
        )
    )
    b = pts.groupBy("grp").agg(F.min("x").alias("x0"))
    z = pts.join(F.broadcast(b), "grp").select(
        "grp", (F.col("x") - F.col("x0")).alias("x"), "yc"
    )
    s = z.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("yc").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("yc")).cast("bigint").alias("sxy"),
        F.sum(F.col("yc") * F.col("yc")).cast("bigint").alias("syy"),
    )
    D = "decimal(38,0)"
    n, sx, sy = F.col("n").cast(D), F.col("sx").cast(D), F.col("sy").cast(D)
    sxx, sxy, syy = F.col("sxx").cast(D), F.col("sxy").cast(D), F.col("syy").cast(D)
    # exact wide arithmetic (decimal128 here, HUGEINT in the oracle);
    # the exact integer-valued terms cast to double identically on both
    # engines, so the single rounded divisions match bit-for-bit
    det = (n * sxx - sx * sx).cast("double")
    num = (n * sxy - sx * sy).cast("double")
    inum = (sy * sxx - sx * sxy).cast("double")
    vary = (n * syy - sy * sy).cast("double")
    return s.select(
        "grp",
        F.col("n").cast("bigint").alias("n"),
        F.round(num / (100.0 * det), 6).alias("slope"),
        F.round(inum / (100.0 * det), 6).alias("intercept"),
        F.round(num * num / (det * vary), 6).alias("r2"),
    )


@query(
    "q178_dispersion_index",
    oracle=f"""
WITH pts AS (
  SELECT user_id % 5 AS grp,
         CAST(epoch_us(ts) // {HOUR_US_Q156} AS BIGINT) AS hr,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT grp, COUNT(*) AS n,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS scc
  FROM pts GROUP BY grp
)
SELECT grp, CAST(n AS BIGINT) AS n_hours, sc AS n_events,
       CAST(n * scc - sc * sc AS BIGINT) AS disp_num,
       CAST(n * sc AS BIGINT) AS disp_den,
       ROUND((n * scc - sc * sc) / CAST(n * sc AS DOUBLE), 6)
         AS dispersion_index
FROM s
""",
)
def q178_dispersion_index(spark, sf_dir):
    """Variance-to-mean ratio (index of dispersion) of hourly event
    counts per group — the burstiness detector: ~1 means Poisson-like
    arrivals, >>1 means bursts (scraper traffic, batch replays — the
    slices an ingest pipeline rate-limits or reweights). Exact
    rational: D = (n·Σc² − (Σc)²) / (n·Σc) from three integer sums —
    the q153/q166 discipline applied to count data. Two
    map-side-combinable aggregates total (hour rollup, then sufficient
    stats); no windows, no joins."""
    pts = (
        events_points(spark, sf_dir)
        .groupBy("grp", F.expr(f"ts_us DIV {HOUR_US_Q156}").alias("hr"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = pts.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
    )
    num = F.col("n") * F.col("scc") - F.col("sc") * F.col("sc")
    den = F.col("n") * F.col("sc")
    return s.select(
        "grp",
        F.col("n").cast("bigint").alias("n_hours"),
        F.col("sc").alias("n_events"),
        num.cast("bigint").alias("disp_num"),
        den.cast("bigint").alias("disp_den"),
        F.round(num / den.cast("double"), 6).alias("dispersion_index"),
    )


SESSION_GAP_US = 1_800_000_000  # 30 minutes


@query(
    "q179_sessionization_stats",
    oracle=f"""
WITH ev AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t FROM events
),
g AS (
  SELECT user_id, t,
         CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                   > {SESSION_GAP_US}
              OR LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM ev
),
sess AS (
  SELECT user_id, t,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
),
per AS (
  SELECT user_id, sid, COUNT(*) AS n_events,
         CAST(MAX(t) - MIN(t) AS BIGINT) AS dur_us
  FROM sess GROUP BY user_id, sid
)
SELECT user_id % 5 AS grp,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_singletons,
       CAST(MAX(dur_us) AS BIGINT) AS max_dur_us,
       CAST(SUM(dur_us) AS BIGINT) AS total_dur_us
FROM per GROUP BY user_id % 5
""",
)
def q179_sessionization_stats(spark, sf_dir):
    """Batch sessionization (30-min inactivity gap) with per-group
    session statistics — the batch face of q82's streaming session
    windows, and the same gaps-and-islands machinery as q42 applied to
    event timestamps: LAG-based session breaks, running-sum session
    ids, per-session rollup, per-group summary (singleton sessions are
    the bot/bounce tell). Windows partition per user — millions of
    small partitions at scale, never a global sort; everything
    downstream is map-side-combinable integer sums."""
    from pyspark.sql import Window as W

    ev = events_points(spark, sf_dir).select("user_id", F.col("ts_us").alias("t"))
    wo = W.partitionBy("user_id").orderBy("t")
    lag = F.lag("t").over(wo)
    g = ev.withColumn(
        "brk",
        F.when(lag.isNull() | ((F.col("t") - lag) > SESSION_GAP_US), 1).otherwise(0),
    )
    sess = g.withColumn(
        "sid", F.sum("brk").over(wo.rowsBetween(W.unboundedPreceding, 0))
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("t") - F.min("t")).cast("bigint").alias("dur_us"),
    )
    return per.groupBy((F.col("user_id") % 5).alias("grp")).agg(
        cnt("n_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_singletons"),
        F.max("dur_us").cast("bigint").alias("max_dur_us"),
        F.sum("dur_us").cast("bigint").alias("total_dur_us"),
    )


WEEK_US = 7 * 24 * 3_600_000_000


@query(
    "q192_cohort_retention",
    oracle=f"""
WITH act AS (
  SELECT DISTINCT user_id,
         CAST(epoch_us(ts) // {WEEK_US} AS BIGINT) AS wk
  FROM events
),
first_wk AS (SELECT user_id, MIN(wk) AS cohort_wk FROM act GROUP BY user_id),
sizes AS (SELECT cohort_wk, COUNT(*) AS cohort_size FROM first_wk GROUP BY cohort_wk),
ret AS (
  SELECT f.cohort_wk, a.wk - f.cohort_wk AS weeks_since,
         COUNT(DISTINCT a.user_id) AS n_active
  FROM act a JOIN first_wk f USING (user_id)
  GROUP BY f.cohort_wk, a.wk - f.cohort_wk
)
SELECT r.cohort_wk, CAST(r.weeks_since AS BIGINT) AS weeks_since,
       s.cohort_size, CAST(r.n_active AS BIGINT) AS n_active,
       ROUND(r.n_active / CAST(s.cohort_size AS DOUBLE), 6) AS retention
FROM ret r JOIN sizes s USING (cohort_wk)
WHERE r.weeks_since <= 8
""",
)
def q192_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix — the warehouse staple behind
    every growth dashboard (and, for a training-data pipeline, the
    contributor-churn view of a crowdsourced corpus): users grouped by
    first-activity week, fraction still active k weeks later. Exact
    throughout: week buckets are integer DIV, activity is a DISTINCT
    (user, week) relation — one shuffle, orders smaller than the event
    stream — and the retention matrix is two joins over per-user and
    per-cohort aggregates. The 9-column triangle bounds output
    regardless of scale."""
    act = (
        events_points(spark, sf_dir)
        .select("user_id", F.expr(f"ts_us DIV {WEEK_US}").alias("wk"))
        .distinct()
        .transform(managed_persist)
    )
    first_wk = act.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = first_wk.groupBy("cohort_wk").agg(cnt("cohort_size"))
    ret = (
        act.join(first_wk, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("weeks_since"))
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return (
        ret.join(sizes, "cohort_wk")
        .where(F.col("weeks_since") <= 8)
        .select(
            "cohort_wk",
            F.col("weeks_since").cast("bigint").alias("weeks_since"),
            "cohort_size",
            F.col("n_active").cast("bigint").alias("n_active"),
            F.round(
                F.col("n_active") / F.col("cohort_size").cast("double"), 6
            ).alias("retention"),
        )
    )


@query(
    "q193_funnel_conversion",
    oracle="""
WITH t AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
  FROM events GROUP BY user_id
),
stages AS (
  SELECT user_id,
         CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS s1,
         CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 ELSE 0 END AS s2,
         CASE WHEN t_view IS NOT NULL AND t_click > t_view
               AND t_purchase > t_click THEN 1 ELSE 0 END AS s3
  FROM t
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(s1) AS BIGINT) AS n_view,
       CAST(SUM(s2) AS BIGINT) AS n_view_click,
       CAST(SUM(s3) AS BIGINT) AS n_view_click_purchase,
       ROUND(SUM(s2) / CAST(NULLIF(SUM(s1), 0) AS DOUBLE), 6) AS click_rate,
       ROUND(SUM(s3) / CAST(NULLIF(SUM(s2), 0) AS DOUBLE), 6) AS purchase_rate
FROM stages
""",
)
def q193_funnel_conversion(spark, sf_dir):
    """Ordered funnel conversion (view -> click -> purchase, timestamps
    strictly increasing per user) — the sequence-analytics staple: each
    stage requires the PREVIOUS stage's earliest event to precede this
    stage's earliest (min-timestamp semantics, the standard windowless
    funnel form). One conditional-min groupBy per user — map-side
    combinable, never a per-user sort — then a 1-row aggregate; NULL
    comparisons resolve to false on both engines so missing stages
    drop out without explicit guards."""
    ev = events_points(spark, sf_dir)

    def tmin(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts_us")))

    t = ev.groupBy("user_id").agg(
        tmin("view").alias("t_view"),
        tmin("click").alias("t_click"),
        tmin("purchase").alias("t_purchase"),
    )
    s1 = F.when(F.col("t_view").isNotNull(), 1).otherwise(0)
    s2 = F.when(
        F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")), 1
    ).otherwise(0)
    s3 = F.when(
        F.col("t_view").isNotNull()
        & (F.col("t_click") > F.col("t_view"))
        & (F.col("t_purchase") > F.col("t_click")),
        1,
    ).otherwise(0)
    stages = t.select(s1.alias("s1"), s2.alias("s2"), s3.alias("s3"))
    return stages.agg(
        cnt("n_users"),
        F.sum("s1").cast("bigint").alias("n_view"),
        F.sum("s2").cast("bigint").alias("n_view_click"),
        F.sum("s3").cast("bigint").alias("n_view_click_purchase"),
        F.round(
            F.sum("s2") / F.nullif(F.sum("s1"), F.lit(0)).cast("double"), 6
        ).alias("click_rate"),
        F.round(
            F.sum("s3") / F.nullif(F.sum("s2"), F.lit(0)).cast("double"), 6
        ).alias("purchase_rate"),
    )


@query(
    "q197_cusum_changepoint",
    oracle=f"""
WITH pts AS (
  SELECT user_id % 5 AS grp,
         CAST(epoch_us(ts) // {HOUR_US_Q156} AS BIGINT) AS hr,
         CAST(SUM(CAST(value AS DECIMAL(14,2))) * 100 AS BIGINT) AS yc
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT grp, hr, yc,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY hr) AS k,
         SUM(yc) OVER (PARTITION BY grp ORDER BY hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(yc) OVER (PARTITION BY grp) AS tot,
         COUNT(*) OVER (PARTITION BY grp) AS n
  FROM pts
),
dev AS (
  SELECT grp, hr, n,
         ABS(CAST(n * cum - k * tot AS BIGINT)) AS d
  FROM s
),
mx AS (SELECT grp, MAX(d) AS max_dev FROM dev GROUP BY grp)
SELECT m.grp, m.max_dev,
       CAST(MAX(d.n) AS BIGINT) AS n_hours,
       CAST(MIN(d.hr) AS BIGINT) AS changepoint_hr
FROM mx m JOIN dev d ON d.grp = m.grp AND d.d = m.max_dev
GROUP BY m.grp, m.max_dev
""",
)
def q197_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection per group — where does the hourly
    revenue series most depart from its own average trajectory (the
    classic single change-point estimator: argmax |CUSUM deviation|).
    INTEGER-EXACT by clearing the mean's division: the deviation
    cum_k − k·mean scales by n to n·cum_k − k·tot, all bigints from
    exact cents — no float CUSUM, and the argmax hour tie-breaks to
    the earliest. One ordered window per group + a max + an equi-join
    back on the (grp, max) pair; series length bounds the window, the
    same q156/q165 hourly-rollup substrate."""
    from pyspark.sql import Window as W

    pts = (
        events_points(spark, sf_dir)
        .groupBy("grp", F.expr(f"ts_us DIV {HOUR_US_Q156}").alias("hr"))
        .agg(
            (F.sum(F.col("value").cast("decimal(14,2)")) * 100)
            .cast("bigint")
            .alias("yc")
        )
    )
    wo = W.partitionBy("grp").orderBy("hr")
    wt = W.partitionBy("grp")
    s = pts.select(
        "grp",
        "hr",
        F.row_number().over(wo).cast("bigint").alias("k"),
        F.sum("yc").over(wo.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.sum("yc").over(wt).alias("tot"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    dev = s.select(
        "grp",
        "hr",
        "n",
        F.abs(
            (F.col("n") * F.col("cum") - F.col("k") * F.col("tot")).cast("bigint")
        ).alias("d"),
    ).transform(managed_persist)
    mx = dev.groupBy("grp").agg(F.max("d").alias("max_dev"))
    return (
        mx.join(dev, ["grp"])
        .where(F.col("d") == F.col("max_dev"))
        .groupBy("grp", "max_dev")
        .agg(
            F.max("n").cast("bigint").alias("n_hours"),
            F.min("hr").cast("bigint").alias("changepoint_hr"),
        )
    )


DAY_US = 24 * 3_600_000_000


@query(
    "q206_kaplan_meier",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t1
  FROM events GROUP BY user_id
),
horizon AS (SELECT MAX(epoch_us(ts)) AS tmax FROM events),
subj AS (
  SELECT user_id,
         CASE WHEN t1 IS NOT NULL AND t1 > t0
              THEN (t1 - t0) // {DAY_US} ELSE (h.tmax - t0) // {DAY_US} END
           AS dur,
         CASE WHEN t1 IS NOT NULL AND t1 > t0 THEN 1 ELSE 0 END AS observed
  FROM per_user CROSS JOIN horizon h
  WHERE t0 IS NOT NULL
),
h AS (
  SELECT dur, CAST(SUM(observed) AS BIGINT) AS d,
         COUNT(*) AS leaving
  FROM subj GROUP BY dur
),
rk AS (
  SELECT dur, d,
         CAST(SUM(leaving) OVER (ORDER BY dur DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
  FROM h
),
steps AS (
  SELECT dur, d, n_risk,
         CAST(ROUND(ln((n_risk - d) / CAST(n_risk AS DOUBLE)), 9)
              AS DECIMAL(18,9)) AS lstep
  FROM rk WHERE d > 0 AND n_risk > d
)
SELECT dur AS duration_day, n_risk, d AS n_events,
       ROUND(exp(CAST(SUM(lstep) OVER (ORDER BY dur
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6)
         AS survival
FROM steps
""",
)
def q206_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve for signup -> first-purchase
    time-to-event (users without a purchase are right-censored at the
    observation horizon) — the survival-analysis staple behind churn
    and conversion-latency reporting, with the estimator's PRODUCT
    made order-independent: each step's ln((n−d)/n) comes from an
    exact integer ratio (identical doubles cross-engine), rounds to 9
    places, and the ordered DECIMAL cumulative sum exponentiates once
    per output row — the q168 reduce discipline applied to Π instead
    of Σ. Risk sets come from the duration histogram via a DESCENDING
    cumulative window (who survives to t = everyone leaving at ≥ t) —
    value-domain-sized, never a subject×time expansion."""
    from pyspark.sql import Window as W

    ev = events_points(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_us"))).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_us"))).alias("t1"),
    )
    horizon = ev.agg(F.max("ts_us").alias("tmax"))
    observed = F.col("t1").isNotNull() & (F.col("t1") > F.col("t0"))
    subj = (
        per_user.where(F.col("t0").isNotNull())
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            F.when(observed, F.expr(f"(t1 - t0) DIV {DAY_US}"))
            .otherwise(F.expr(f"(tmax - t0) DIV {DAY_US}"))
            .alias("dur"),
            F.when(observed, 1).otherwise(0).alias("observed"),
        )
    )
    h = subj.groupBy("dur").agg(
        F.sum("observed").cast("bigint").alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    wdesc = W.orderBy(F.desc("dur")).rowsBetween(W.unboundedPreceding, 0)
    rk = h.select(
        "dur",
        "d",
        F.sum("leaving").over(wdesc).cast("bigint").alias("n_risk"),
    )
    steps = rk.where((F.col("d") > 0) & (F.col("n_risk") > F.col("d"))).select(
        "dur",
        "d",
        "n_risk",
        F.round(
            F.log(
                (F.col("n_risk") - F.col("d")) / F.col("n_risk").cast("double")
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("lstep"),
    )
    wasc = W.orderBy("dur").rowsBetween(W.unboundedPreceding, 0)
    return steps.select(
        F.col("dur").alias("duration_day"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.round(F.exp(F.sum("lstep").over(wasc).cast("double")), 6).alias(
            "survival"
        ),
    )


@query(
    "q245_logrank_test",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t1
  FROM events GROUP BY user_id
),
horizon AS (SELECT MAX(epoch_us(ts)) AS tmax FROM events),
subj AS (
  SELECT user_id, user_id % 2 AS grp,
         CASE WHEN t1 IS NOT NULL AND t1 > t0
              THEN (t1 - t0) // {DAY_US} ELSE (h.tmax - t0) // {DAY_US} END AS dur,
         CASE WHEN t1 IS NOT NULL AND t1 > t0 THEN 1 ELSE 0 END AS observed
  FROM per_user CROSS JOIN horizon h
  WHERE t0 IS NOT NULL
),
h AS (
  SELECT dur,
         CAST(SUM(observed) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN grp = 1 THEN observed ELSE 0 END) AS BIGINT) AS d1,
         COUNT(*) AS leaving,
         COUNT(*) FILTER (WHERE grp = 1) AS leaving1
  FROM subj GROUP BY dur
),
rk AS (
  SELECT dur, d, d1,
         CAST(SUM(leaving) OVER (ORDER BY dur DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n,
         CAST(SUM(leaving1) OVER (ORDER BY dur DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n1
  FROM h
),
terms AS (
  SELECT dur,
         CAST(ROUND(d1 - d * n1 / CAST(n AS DOUBLE), 10) AS DECIMAL(24,10)) AS oe,
         CAST(ROUND(CASE WHEN n > 1
             THEN d * (n1 / CAST(n AS DOUBLE)) * (1 - n1 / CAST(n AS DOUBLE))
                  * (n - d) / CAST(n - 1 AS DOUBLE)
             ELSE 0 END, 10) AS DECIMAL(24,10)) AS var_t,
         d1
  FROM rk WHERE d > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_event_times,
       CAST(SUM(d1) AS BIGINT) AS observed_grp1,
       ROUND(CAST(SUM(oe) AS DOUBLE), 6) AS o_minus_e_sum,
       ROUND(CAST(SUM(var_t) AS DOUBLE), 6) AS var_sum,
       ROUND(POW(CAST(SUM(oe) AS DOUBLE), 2) / CAST(SUM(var_t) AS DOUBLE), 6)
         AS logrank_chi2
FROM terms
""",
)
def q245_logrank_test(spark, sf_dir):
    """LOG-RANK TEST between two survival groups (the hypothesis-test
    companion of q206's Kaplan-Meier curves — 'do odd and even user
    cohorts convert at the same rate?'): at every event time the
    observed-minus-expected group-1 events under the hypergeometric
    null, summed into the Mantel-Cox chi-square (df=1; the statistic
    is the deliverable — its p-value needs erf, which neither engine
    exposes portably, and the chi2 itself is what meta-analyses pool).

    Determinism: risk sets are integer reverse-cumulatives; per-time
    O-E and variance terms are IEEE rationals snapped to DECIMAL
    before the order-free sums. Scale shape: identical to q206 — the
    duration histogram (time-domain-sized) carries everything; no
    window ever spans the subject table."""
    from pyspark.sql import Window as W

    ev = events_points(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_us"))).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_us"))).alias("t1"),
    )
    horizon = ev.agg(F.max("ts_us").alias("tmax"))
    observed = (F.col("t1").isNotNull()) & (F.col("t1") > F.col("t0"))
    subj = (
        per_user.crossJoin(F.broadcast(horizon))
        .where(F.col("t0").isNotNull())
        .select(
            (F.col("user_id") % 2).alias("grp"),
            F.when(observed, F.expr(f"(t1 - t0) DIV {DAY_US}"))
            .otherwise(F.expr(f"(tmax - t0) DIV {DAY_US}"))
            .alias("dur"),
            F.when(observed, 1).otherwise(0).alias("observed"),
        )
    )
    h = subj.groupBy("dur").agg(
        F.sum("observed").cast("bigint").alias("d"),
        F.sum(F.when(F.col("grp") == 1, F.col("observed")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.count(F.lit(1)).alias("leaving"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("leaving1"),
    )
    wdesc = W.orderBy(F.col("dur").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    rk = h.select(
        "dur",
        "d",
        "d1",
        F.sum("leaving").over(wdesc).cast("bigint").alias("n"),
        F.sum("leaving1").over(wdesc).cast("bigint").alias("n1"),
    )
    p1 = F.col("n1") / F.col("n").cast("double")
    oe = F.round(F.col("d1") - F.col("d") * p1, 10).cast("decimal(24,10)")
    var_t = F.round(
        F.when(
            F.col("n") > 1,
            F.col("d") * p1 * (1 - p1) * (F.col("n") - F.col("d"))
            / (F.col("n") - 1).cast("double"),
        ).otherwise(0.0),
        10,
    ).cast("decimal(24,10)")
    terms = rk.where(F.col("d") > 0).select(
        "dur", "d1", oe.alias("oe"), var_t.alias("var_t")
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_event_times"),
        F.sum("d1").cast("bigint").alias("observed_grp1"),
        F.round(F.sum("oe").cast("double"), 6).alias("o_minus_e_sum"),
        F.round(F.sum("var_t").cast("double"), 6).alias("var_sum"),
        F.round(
            F.pow(F.sum("oe").cast("double"), 2) / F.sum("var_t").cast("double"), 6
        ).alias("logrank_chi2"),
    )


@query(
    "q262_markov_transitions",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type AS cur,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
),
trans AS (
  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
  FROM ordered WHERE nxt IS NOT NULL
  GROUP BY cur, nxt
)
SELECT cur, nxt, n,
       ROUND(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY cur), 6) AS p
FROM trans
""",
)
def q262_markov_transitions(spark, sf_dir):
    """FIRST-ORDER MARKOV TRANSITION MATRIX over per-user event
    sequences — the behavioral-sequence model behind session
    next-action prediction and synthetic-sequence QC (a learned
    transition matrix far from uniform flags bot traffic; the
    sequence-mining complement of the association rules q194 and the
    sessionization stats q179). P(next | current) with deterministic
    (ts, event_id) tie-breaks.

    Scale discipline: one LEAD window partitioned by user (user
    sequences are short and hash-partition evenly — no global sort),
    then one (cur, nxt) groupBy whose cardinality is |event_type|^2
    (tiny). The row-level probability is a window over the 25-row
    transition table. Exact BIGINT counts; the single division is
    snapped with round(, 6) on both engines."""
    ev = load_table(spark, sf_dir, "events")
    ordered = ev.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts_ns", "event_id"))
        .alias("nxt"),
    )
    trans = (
        ordered.where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return trans.select(
        "cur",
        "nxt",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(W.partitionBy("cur")), 6
        ).alias("p"),
    )


_EWMA_W = 8  # bounded lag window
_EWMA_A = 0.5  # alpha: weight (1-a)^i, binary-exact literals


@query(
    "q267_ewma_smoothing",
    oracle=f"""
WITH lagged AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn_desc,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events,
         {", ".join(f"LAG(value, {i}) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS l{i}" for i in range(8))}
  FROM events
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       ROUND(value, 2) AS last_value,
       ROUND((
         {" + ".join(f"COALESCE(l{i} * {0.5 ** i!r}, 0.0)" for i in range(8))}
       ) / (
         {" + ".join(f"CASE WHEN l{i} IS NOT NULL THEN {0.5 ** i!r} ELSE 0.0 END" for i in range(8))}
       ), 6) AS ewma
FROM lagged
WHERE rn_desc = 1
""",
)
def q267_ewma_smoothing(spark, sf_dir):
    """EWMA SMOOTHING over per-user event streams — the time-series
    smoother of the monitoring family (OLS trend q165, drift q161,
    sessionization q179): exponentially weighted moving average with
    alpha=0.5 over the last 8 observations, reported at each user's
    most-recent event (the live 'smoothed metric now' a dashboard
    serves).

    Scale discipline: the bounded-window formulation — 8 explicit LAGs
    instead of an unbounded running recurrence — makes the state finite
    and the plan ONE window over (user) with no recursion; weights
    (1-a)^i are binary-exact literals (powers of 0.5), the weighted sum
    is a fixed-order 8-term expression, so both engines produce the
    identical double before the final round. At 100 TB the window
    partitions by user and never sees more than one user's history per
    task."""
    ev = load_table(spark, sf_dir, "events")
    w_asc = W.partitionBy("user_id").orderBy("ts_ns", "event_id")
    w_desc = W.partitionBy("user_id").orderBy(
        F.col("ts_ns").desc(), F.col("event_id").desc()
    )
    lags = [F.lag("value", i).over(w_asc).alias(f"l{i}") for i in range(_EWMA_W)]
    lagged = ev.select(
        "user_id",
        "value",
        F.row_number().over(w_desc).alias("rn_desc"),
        F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("n_events"),
        *lags,
    ).where(F.col("rn_desc") == 1)
    num = None
    den = None
    for i in range(_EWMA_W):
        wgt = F.lit(_EWMA_A ** i)
        t = F.coalesce(F.col(f"l{i}") * wgt, F.lit(0.0))
        d = F.when(F.col(f"l{i}").isNotNull(), wgt).otherwise(F.lit(0.0))
        num = t if num is None else num + t
        den = d if den is None else den + d
    return lagged.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("value", 2).alias("last_value"),
        F.round(num / den, 6).alias("ewma"),
    )


@query(
    "q273_event_funnel",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type, epoch_ns(ts) AS t FROM events
),
s1 AS (
  SELECT user_id, MIN(t) AS t_view FROM ev WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.t) AS t_click
  FROM ev e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.t > s1.t_view
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.t) AS t_purchase
  FROM ev e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.t > s2.t_click
  GROUP BY e.user_id
),
counts AS (
  SELECT 0 AS stage_ix, 'all_users' AS stage,
         (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM ev) AS n_users
  UNION ALL
  SELECT 1, 'viewed', (SELECT CAST(COUNT(*) AS BIGINT) FROM s1)
  UNION ALL
  SELECT 2, 'clicked_after_view', (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
  UNION ALL
  SELECT 3, 'purchased_after_click', (SELECT CAST(COUNT(*) AS BIGINT) FROM s3)
)
SELECT CAST(stage_ix AS INT) AS stage_ix, stage, n_users,
       ROUND(CAST(n_users AS DOUBLE)
             / LAG(n_users) OVER (ORDER BY stage_ix), 6) AS conversion
FROM counts
""",
)
def q273_event_funnel(spark, sf_dir):
    """ORDERED CONVERSION FUNNEL (view -> click -> purchase, each stage
    strictly AFTER the previous stage's first completion) — the
    product-analytics report sessionization q179 and the curation
    funnel q99 both gesture at, with the strict-ordering semantic that
    makes it a sequence operator rather than three filters: a click
    before the first view does not count.

    Scale discipline: each stage is one filtered per-user MIN + one
    equi-join on user_id against the (shrinking) previous stage — the
    stage tables are strictly decreasing in size, joins are
    hash-partition-friendly on the same key, and nothing resembles a
    per-user sort or all-events window. Output is the 4-row funnel
    ledger; conversion is a LAG over it."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts_ns").alias("t")
    ).transform(managed_persist)
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_view"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("t") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_click"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("t") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_purchase"))
    )
    rows = (
        ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_users")).select(
            F.lit(0).cast("int").alias("stage_ix"), F.lit("all_users").alias("stage"), "n_users"
        )
        .unionByName(
            s1.agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
                F.lit(1).cast("int").alias("stage_ix"), F.lit("viewed").alias("stage"), "n_users"
            )
        )
        .unionByName(
            s2.agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
                F.lit(2).cast("int").alias("stage_ix"),
                F.lit("clicked_after_view").alias("stage"),
                "n_users",
            )
        )
        .unionByName(
            s3.agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
                F.lit(3).cast("int").alias("stage_ix"),
                F.lit("purchased_after_click").alias("stage"),
                "n_users",
            )
        )
    )
    return rows.select(
        "stage_ix",
        "stage",
        "n_users",
        F.round(
            F.col("n_users").cast("double")
            / F.lag("n_users").over(W.orderBy("stage_ix")),
            6,
        ).alias("conversion"),
    )


@query(
    "q274_retention_cohorts",
    oracle="""
WITH ev AS (
  SELECT user_id, CAST(FLOOR(CAST(epoch_ns(ts) AS DOUBLE)
        / (7.0 * 86400.0 * 1e9)) AS BIGINT) AS week
  FROM events
),
first_week AS (
  SELECT user_id, MIN(week) AS cohort FROM ev GROUP BY user_id
),
active AS (
  SELECT DISTINCT e.user_id, f.cohort, e.week - f.cohort AS offset_w
  FROM ev e JOIN first_week f USING (user_id)
),
cohort_size AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM first_week GROUP BY cohort
)
SELECT a.cohort, a.offset_w,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       MAX(c.n_cohort) AS n_cohort,
       ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(c.n_cohort), 6) AS retention
FROM active a JOIN cohort_size c USING (cohort)
GROUP BY a.cohort, a.offset_w
""",
)
def q274_retention_cohorts(spark, sf_dir):
    """RETENTION COHORT MATRIX — the canonical growth-analytics
    triangle: users grouped by first-active week (cohort), per-week
    activity re-expressed as an offset from the cohort week, retention
    = active fraction of the cohort at each offset. Completes the
    behavioral family (funnel q273 = ordering, sessionization q179 =
    gaps, THIS = longevity).

    Scale discipline: week bucketing is a map-side projection; the
    cohort assignment is one per-user MIN; the activity matrix is a
    DISTINCT on (user, cohort, offset) — all shuffles hash on user_id
    or the tiny (cohort, offset) pair, and the cohort-size table is a
    broadcast-scale dimension. Integer week arithmetic (floor of
    ns/week) is exact on both engines via a double division of
    magnitudes far below 2^53 per component."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("ts_ns").cast("double") / F.lit(7.0 * 86400.0 * 1e9))
        .cast("bigint")
        .alias("week"),
    ).transform(managed_persist)
    first_week = ev.groupBy("user_id").agg(F.min("week").alias("cohort"))
    active = (
        ev.join(first_week, "user_id")
        .select("user_id", "cohort", (F.col("week") - F.col("cohort")).alias("offset_w"))
        .distinct()
    )
    cohort_size = first_week.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cohort")
    )
    return (
        active.join(F.broadcast(cohort_size), "cohort")
        .groupBy("cohort", "offset_w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active"),
            F.max("n_cohort").alias("n_cohort"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.max("n_cohort"), 6
            ).alias("retention"),
        )
    )


@query(
    "q283_cusum_changepoint",
    oracle="""
WITH daily AS (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM daily GROUP BY event_type
),
walk AS (
  SELECT d.event_type, d.day,
         CAST(SUM(CAST(d.x AS DECIMAL(18,2))) OVER (
           PARTITION BY d.event_type ORDER BY d.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           - ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day)
             * (s.total / s.n_days) AS cusum,
         s.n_days, s.total
  FROM daily d JOIN stats s USING (event_type)
),
ranked AS (
  SELECT event_type, day, cusum, n_days, total,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY ROUND(ABS(cusum), 6) DESC, day) AS rn
  FROM walk
)
SELECT event_type,
       n_days,
       ROUND(total / n_days, 6) AS daily_mean,
       CAST(day AS BIGINT) AS changepoint_day,
       ROUND(ABS(cusum), 6) AS max_abs_cusum
FROM ranked WHERE rn = 1
""",
)
def q283_cusum_changepoint(spark, sf_dir):
    """CUSUM CHANGEPOINT DETECTION per event series (Page 1954 — the
    classic mean-shift locator of pipeline monitoring: where did the
    daily metric's level change?): the cumulative sum of deviations
    from the series mean peaks AT the changepoint; report each
    series' peak |CUSUM| and its day — the monitoring complement of
    drift (q161, distributional) and EWMA (q267, smoothing).

    Scale discipline: daily pre-aggregation first (map-side
    combinable, exact DECIMAL), so the walk runs over days-per-series
    rows, not events; the cusum is expressed as exact-decimal prefix
    sum minus t*mean (one window per series, partitioned by series) —
    no running double accumulation, so partitioning cannot move a
    bit; argmax via rank over the snapped statistic with a day
    tie-break."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("ts_ns DIV 86400000000000").alias("day"),
    ).agg(F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.col("x").cast("decimal(18,2)")).cast("double").alias("total"),
    )
    w_ord = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    walk = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "n_days",
        "total",
        (
            F.sum(F.col("x").cast("decimal(18,2)")).over(w_ord).cast("double")
            - F.row_number().over(W.partitionBy("event_type").orderBy("day"))
            * (F.col("total") / F.col("n_days"))
        ).alias("cusum"),
    )
    ranked = walk.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(
                F.round(F.abs("cusum"), 6).desc(), "day"
            )
        ),
    )
    return ranked.where(F.col("rn") == 1).select(
        "event_type",
        "n_days",
        F.round(F.col("total") / F.col("n_days"), 6).alias("daily_mean"),
        F.col("day").cast("bigint").alias("changepoint_day"),
        F.round(F.abs("cusum"), 6).alias("max_abs_cusum"),
    )


_ATTR_LOOKBACK_NS = 3 * 86400000000000  # 3-day attribution window


@query(
    "q284_attribution_last_touch",
    oracle=f"""
WITH purchases AS (
  SELECT event_id, user_id, epoch_ns(ts) AS t, value
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, epoch_ns(ts) AS t_click,
         CAST(regexp_extract(props, '[0-9]+') AS BIGINT) % 5 AS campaign
  FROM events WHERE event_type = 'click'
),
touched AS (
  SELECT p.event_id, p.value, c.campaign,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY c.t_click DESC, c.campaign) AS rn
  FROM purchases p JOIN clicks c
    ON c.user_id = p.user_id
   AND c.t_click < p.t
   AND c.t_click >= p.t - {_ATTR_LOOKBACK_NS}
),
attributed AS (
  SELECT 'campaign_' || CAST(campaign AS VARCHAR) AS bucket, value
  FROM touched WHERE rn = 1
),
organic AS (
  SELECT 'organic' AS bucket, p.value
  FROM purchases p
  WHERE NOT EXISTS (
    SELECT 1 FROM clicks c
    WHERE c.user_id = p.user_id
      AND c.t_click < p.t AND c.t_click >= p.t - {_ATTR_LOOKBACK_NS}
  )
),
u AS (SELECT * FROM attributed UNION ALL SELECT * FROM organic)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM u GROUP BY bucket
""",
)
def q284_attribution_last_touch(spark, sf_dir):
    """LAST-TOUCH ATTRIBUTION — the as-of-join business report: each
    purchase is attributed to the user's most recent click within a
    3-day lookback (campaign parsed from the event payload), otherwise
    'organic'; revenue rolls up per campaign. The APPLIED form of the
    as-of join (q36) with an anti-join residual ledger — an attribution
    table is exactly what a training-data lineage tracker produces
    when it assigns each derived example to its most recent upstream
    snapshot.

    Scale discipline: both sides hash on user_id; the lookback bound
    caps the exploded candidate set per purchase before the rank
    (bounded as-of, not unbounded history); the rn=1 window partitions
    by purchase. The anti-join shares the join keys. Revenue is
    DECIMAL-exact; campaign parse is one regexp on the payload —
    map-side."""
    ev = load_table(spark, sf_dir, "events").transform(managed_persist)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts_ns").alias("t"), "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts_ns").alias("t_click"),
        (F.regexp_extract("props", "[0-9]+", 0).cast("bigint") % 5).alias("campaign"),
    )
    cond = (
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("c.t_click") < F.col("p.t"))
        & (F.col("c.t_click") >= F.col("p.t") - _ATTR_LOOKBACK_NS)
    )
    touched = (
        purchases.alias("p")
        .join(clicks.alias("c"), cond)
        .select(
            "p.event_id",
            "p.value",
            "c.campaign",
            F.row_number()
            .over(
                W.partitionBy("p.event_id").orderBy(
                    F.col("c.t_click").desc(), "c.campaign"
                )
            )
            .alias("rn"),
        )
    )
    attributed = touched.where(F.col("rn") == 1).select(
        F.concat(F.lit("campaign_"), F.col("campaign").cast("string")).alias("bucket"),
        "value",
    )
    organic = (
        purchases.alias("p")
        .join(clicks.alias("c"), cond, "left_anti")
        .select(F.lit("organic").alias("bucket"), "value")
    )
    return attributed.unionByName(organic).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("revenue"),
    )


@query(
    "q286_nelson_aalen",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t1
  FROM events GROUP BY user_id
),
horizon AS (SELECT MAX(epoch_us(ts)) AS tmax FROM events),
subj AS (
  SELECT user_id,
         CASE WHEN t1 IS NOT NULL AND t1 > t0
              THEN (t1 - t0) // {DAY_US} ELSE (h.tmax - t0) // {DAY_US} END
           AS dur,
         CASE WHEN t1 IS NOT NULL AND t1 > t0 THEN 1 ELSE 0 END AS observed
  FROM per_user CROSS JOIN horizon h
  WHERE t0 IS NOT NULL
),
h AS (
  SELECT dur, CAST(SUM(observed) AS BIGINT) AS d,
         COUNT(*) AS leaving
  FROM subj GROUP BY dur
),
rk AS (
  SELECT dur, d,
         CAST(SUM(leaving) OVER (ORDER BY dur DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
  FROM h
),
steps AS (
  SELECT dur, d, n_risk,
         CAST(ROUND(CAST(d AS DOUBLE) / n_risk, 10) AS DECIMAL(18,10)) AS hstep,
         CAST(ROUND(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk), 12)
              AS DECIMAL(20,12)) AS vstep
  FROM rk WHERE d > 0
)
SELECT dur AS duration_day, n_risk, d AS n_events,
       ROUND(CAST(SUM(hstep) OVER w AS DOUBLE), 6) AS cum_hazard,
       ROUND(CAST(SUM(vstep) OVER w AS DOUBLE), 9) AS var_hazard,
       ROUND(exp(-CAST(SUM(hstep) OVER w AS DOUBLE)), 6) AS fh_survival
FROM steps
WINDOW w AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def q286_nelson_aalen(spark, sf_dir):
    """NELSON-AALEN CUMULATIVE HAZARD + Fleming-Harrington survival —
    the hazard-scale counterpart of Kaplan-Meier (q206, same risk-set
    substrate): H(t) = sum d_i/n_i over event times <= t, its
    variance estimate sum d_i/n_i^2, and exp(-H) as the FH survival
    curve (the small-sample-robust alternative a lifelines user
    expects beside KM).

    Scale discipline: identical shape to q206 — per-user MIN pair,
    one duration histogram, the risk set as a reverse cumulative sum,
    and the hazard as a forward cumulative sum of DECIMAL-snapped
    steps (exact, order-independent); event times per cohort are
    bounded so the unpartitioned windows run over a tiny aggregate,
    not the corpus."""
    ev = load_table(spark, sf_dir, "events")
    t_us = F.expr("ts_ns DIV 1000")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", t_us)).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", t_us)).alias("t1"),
    )
    horizon = ev.agg(F.max(t_us).alias("tmax"))
    observed = F.col("t1").isNotNull() & (F.col("t1") > F.col("t0"))
    subj = (
        per_user.where(F.col("t0").isNotNull())
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(observed, F.expr(f"(t1 - t0) DIV {DAY_US}"))
            .otherwise(F.expr(f"(tmax - t0) DIV {DAY_US}"))
            .alias("dur"),
            F.when(observed, 1).otherwise(0).alias("observed"),
        )
    )
    h = subj.groupBy("dur").agg(
        F.sum("observed").cast("bigint").alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    w_desc = W.orderBy(F.col("dur").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    rk = h.select(
        "dur", "d", F.sum("leaving").over(w_desc).cast("bigint").alias("n_risk")
    )
    steps = rk.where(F.col("d") > 0).select(
        "dur",
        "d",
        "n_risk",
        F.round(F.col("d").cast("double") / F.col("n_risk"), 10)
        .cast("decimal(18,10)")
        .alias("hstep"),
        F.round(
            F.col("d").cast("double") / (F.col("n_risk").cast("double") * F.col("n_risk")),
            12,
        )
        .cast("decimal(20,12)")
        .alias("vstep"),
    )
    w_asc = W.orderBy("dur").rowsBetween(W.unboundedPreceding, W.currentRow)
    return steps.select(
        F.col("dur").alias("duration_day"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.round(F.sum("hstep").over(w_asc).cast("double"), 6).alias("cum_hazard"),
        F.round(F.sum("vstep").over(w_asc).cast("double"), 9).alias("var_hazard"),
        F.round(F.exp(-F.sum("hstep").over(w_asc).cast("double")), 6).alias(
            "fh_survival"
        ),
    )


@query(
    "q287_seasonal_profile",
    oracle="""
WITH hours AS (
  SELECT event_type,
         (epoch_ns(ts) // 3600000000000) % 24 AS hod,
         value
  FROM events
),
cells AS (
  SELECT event_type, hod,
         CAST(COUNT(*) AS BIGINT) AS n_c,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s_c,
         CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)))
              AS DOUBLE) AS ss_c
  FROM hours GROUP BY event_type, hod
),
tot AS (
  SELECT event_type,
         CAST(SUM(n_c) AS BIGINT) AS n,
         CAST(SUM(CAST(s_c AS DECIMAL(20,2))) AS DOUBLE) AS s,
         CAST(SUM(CAST(ss_c AS DECIMAL(24,4))) AS DOUBLE) AS ss,
         CAST(SUM(CAST(ROUND(s_c * s_c / n_c, 6) AS DECIMAL(30,6))) AS DOUBLE)
           AS sum_sq_over_n
  FROM cells GROUP BY event_type
),
peaks AS (
  SELECT event_type,
         CAST(MAX(hod) FILTER (WHERE rn_peak = 1) AS BIGINT) AS peak_hour,
         CAST(MAX(hod) FILTER (WHERE rn_trough = 1) AS BIGINT) AS trough_hour
  FROM (
    SELECT event_type, hod,
           ROW_NUMBER() OVER (PARTITION BY event_type
             ORDER BY ROUND(s_c / n_c, 6) DESC, hod) AS rn_peak,
           ROW_NUMBER() OVER (PARTITION BY event_type
             ORDER BY ROUND(s_c / n_c, 6) ASC, hod) AS rn_trough
    FROM cells
  ) GROUP BY event_type
)
SELECT t.event_type, t.n,
       ROUND(t.s / t.n, 6) AS grand_mean,
       ROUND((t.sum_sq_over_n - t.s * t.s / t.n)
             / (t.ss - t.s * t.s / t.n), 6) AS seasonal_r2,
       p.peak_hour, p.trough_hour
FROM tot t JOIN peaks p USING (event_type)
""",
)
def q287_seasonal_profile(spark, sf_dir):
    """HOUR-OF-DAY SEASONAL DECOMPOSITION per metric series — the
    'is this series seasonal, and when does it peak' report (the
    classify-before-you-model step of forecasting, and a drift
    denoiser for the monitoring family q161/q283): seasonal R^2 =
    between-hour sum of squares / total (exactly the ANOVA q277
    identity applied to the hour factor) plus peak/trough hours.

    Scale discipline: the corpus reduces to 24 cells x series of
    (n, sum, sum-of-squares) in ONE map-side-combinable aggregate;
    everything else is arithmetic over that 120-row table (windows
    included). DECIMAL snaps at the cell boundary keep every cross-
    cell sum order-independent; peak selection ranks the SNAPPED
    hourly means with an hour tie-break."""
    ev = load_table(spark, sf_dir, "events")
    dv = F.col("value").cast("decimal(12,2)")
    cells = ev.groupBy(
        "event_type", (F.expr("ts_ns DIV 3600000000000") % 24).alias("hod")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c"),
        F.sum(dv).cast("double").alias("s_c"),
        F.sum(dv * dv).cast("double").alias("ss_c"),
    ).transform(managed_persist)
    tot = cells.groupBy("event_type").agg(
        F.sum("n_c").cast("bigint").alias("n"),
        F.sum(F.col("s_c").cast("decimal(20,2)")).cast("double").alias("s"),
        F.sum(F.col("ss_c").cast("decimal(24,4)")).cast("double").alias("ss"),
        F.sum(
            F.round(F.col("s_c") * F.col("s_c") / F.col("n_c"), 6).cast(
                "decimal(30,6)"
            )
        )
        .cast("double")
        .alias("sum_sq_over_n"),
    )
    hourly_mean = F.round(F.col("s_c") / F.col("n_c"), 6)
    ranked = cells.select(
        "event_type",
        "hod",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy(hourly_mean.desc(), "hod"))
        .alias("rn_peak"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy(hourly_mean.asc(), "hod"))
        .alias("rn_trough"),
    )
    peaks = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn_peak") == 1, F.col("hod"))).cast("bigint").alias("peak_hour"),
        F.max(F.when(F.col("rn_trough") == 1, F.col("hod"))).cast("bigint").alias("trough_hour"),
    )
    ssb = F.col("sum_sq_over_n") - F.col("s") * F.col("s") / F.col("n")
    sst = F.col("ss") - F.col("s") * F.col("s") / F.col("n")
    return tot.join(peaks, "event_type").select(
        "event_type",
        "n",
        F.round(F.col("s") / F.col("n"), 6).alias("grand_mean"),
        F.round(ssb / sst, 6).alias("seasonal_r2"),
        "peak_hour",
        "trough_hour",
    )


_SPRT_P0 = 0.18
_SPRT_P1 = 0.22
_SPRT_LA = __import__("math").log(_SPRT_P1 / _SPRT_P0)          # success step
_SPRT_LB = __import__("math").log((1 - _SPRT_P1) / (1 - _SPRT_P0))  # failure step
_SPRT_THRESH = __import__("math").log(19.0)  # alpha = beta = 0.05


@query(
    "q288_sprt_ledger",
    oracle=f"""
WITH obs AS (
  SELECT user_id % 2 AS arm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
         ROW_NUMBER() OVER (PARTITION BY user_id % 2
                            ORDER BY epoch_ns(ts), event_id) AS t,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id % 2 ORDER BY epoch_ns(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM events
),
walk AS (
  SELECT arm, t, s,
         s * CAST({_SPRT_LA!r} AS DOUBLE)
         + (t - s) * CAST({_SPRT_LB!r} AS DOUBLE) AS llr
  FROM obs
)
SELECT CAST(arm AS BIGINT) AS arm,
       CAST(MAX(t) AS BIGINT) AS n_obs,
       CAST(MAX(s) AS BIGINT) AS n_success,
       ROUND(MAX(CASE WHEN t = (SELECT MAX(t) FROM walk w2 WHERE w2.arm = walk.arm)
                 THEN llr END), 6) AS final_llr,
       CAST(MIN(CASE WHEN llr >= CAST({_SPRT_THRESH!r} AS DOUBLE) THEN t END) AS BIGINT)
         AS first_cross_hi,
       CAST(MIN(CASE WHEN llr <= -CAST({_SPRT_THRESH!r} AS DOUBLE) THEN t END) AS BIGINT)
         AS first_cross_lo,
       CASE
         WHEN COALESCE(MIN(CASE WHEN llr >= CAST({_SPRT_THRESH!r} AS DOUBLE) THEN t END), 9223372036854775807)
              < COALESCE(MIN(CASE WHEN llr <= -CAST({_SPRT_THRESH!r} AS DOUBLE) THEN t END), 9223372036854775807)
           THEN 'accept_h1'
         WHEN COALESCE(MIN(CASE WHEN llr <= -CAST({_SPRT_THRESH!r} AS DOUBLE) THEN t END), 9223372036854775807)
              < COALESCE(MIN(CASE WHEN llr >= CAST({_SPRT_THRESH!r} AS DOUBLE) THEN t END), 9223372036854775807)
           THEN 'accept_h0'
         ELSE 'continue'
       END AS decision
FROM walk GROUP BY arm
""",
)
def q288_sprt_ledger(spark, sf_dir):
    """SPRT SEQUENTIAL TEST LEDGER (Wald 1945 — the always-valid
    sequential complement of the fixed-horizon A/B family
    q208/q265): per arm, the log-likelihood-ratio walk for
    H1: p=0.22 vs H0: p=0.18 over the time-ordered success stream,
    its first boundary crossing (ln 19 for alpha=beta=0.05) and the
    stop decision a sequential monitor would have taken.

    Scale discipline: the LLR at step t has the CLOSED FORM
    s_t*ln(p1/p0) + (t-s_t)*ln(q1/q0) — so the walk needs only an
    integer cumulative-success window (exact any partitioning), never
    a floating cumsum; one window per arm ordered by time + one 2-row
    aggregate. The boundary scan is a conditional MIN, not a loop.
    Step literals are shared Python-formatted doubles."""
    ev = load_table(spark, sf_dir, "events")
    w_ord = W.partitionBy("arm").orderBy("ts_ns", "event_id")
    obs = ev.select(
        (F.col("user_id") % 2).alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
        "ts_ns",
        "event_id",
    ).select(
        "arm",
        F.row_number().over(w_ord).alias("t"),
        F.sum("x").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("s"),
    )
    llr = F.col("s") * F.lit(_SPRT_LA) + (F.col("t") - F.col("s")) * F.lit(_SPRT_LB)
    walk = obs.select("arm", "t", "s", llr.alias("llr")).transform(managed_persist)
    n_max = walk.groupBy("arm").agg(F.max("t").alias("t_max"))
    big = F.lit(9223372036854775807)
    hi = F.min(F.when(F.col("llr") >= _SPRT_THRESH, F.col("t")))
    lo = F.min(F.when(F.col("llr") <= -_SPRT_THRESH, F.col("t")))
    agg = walk.join(F.broadcast(n_max), "arm").groupBy("arm").agg(
        F.max("t").cast("bigint").alias("n_obs"),
        F.max("s").cast("bigint").alias("n_success"),
        F.round(
            F.max(F.when(F.col("t") == F.col("t_max"), F.col("llr"))), 6
        ).alias("final_llr"),
        hi.cast("bigint").alias("first_cross_hi"),
        lo.cast("bigint").alias("first_cross_lo"),
        F.when(F.coalesce(hi, big) < F.coalesce(lo, big), "accept_h1")
        .when(F.coalesce(lo, big) < F.coalesce(hi, big), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )
    return agg.select(
        F.col("arm").cast("bigint").alias("arm"),
        "n_obs",
        "n_success",
        "final_llr",
        "first_cross_hi",
        "first_cross_lo",
        "decision",
    )


_BT_ITERS = 8


def _bt_oracle_sql() -> str:
    parts = [
        """
WITH ordered AS (
  SELECT user_id, event_type AS cur, value AS cur_v,
         LEAD(event_type) OVER w AS nxt,
         LEAD(value) OVER w AS nxt_v
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
),
m AS (
  SELECT CASE WHEN cur < nxt THEN cur ELSE nxt END AS a,
         CASE WHEN cur < nxt THEN nxt ELSE cur END AS b,
         CASE WHEN (CASE WHEN cur < nxt THEN cur_v ELSE nxt_v END)
                 > (CASE WHEN cur < nxt THEN nxt_v ELSE cur_v END)
              THEN 1 ELSE 0 END AS wa
  FROM ordered
  WHERE nxt IS NOT NULL AND cur <> nxt AND cur_v <> nxt_v
),
pairs AS MATERIALIZED (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(wa) AS BIGINT) AS wa
  FROM m GROUP BY a, b
),
edges AS MATERIALIZED (
  SELECT a AS i, b AS j, n, wa AS w FROM pairs
  UNION ALL
  SELECT b AS i, a AS j, n, n - wa AS w FROM pairs
),
items AS MATERIALIZED (
  SELECT i AS item, CAST(SUM(n) AS BIGINT) AS n_matches,
         CAST(SUM(w) AS BIGINT) AS wins
  FROM edges GROUP BY i
),
p0 AS MATERIALIZED (
  SELECT item, ROUND(1.0 / (SELECT COUNT(*) FROM items), 12) AS p FROM items
)"""
    ]
    prev = "p0"
    for t in range(1, _BT_ITERS + 1):
        parts.append(
            f""",
d{t} AS MATERIALIZED (
  SELECT e.i AS item,
         CAST(SUM(CAST(ROUND(e.n / (pi.p + pj.p), 12) AS DECIMAL(20,12)))
              AS DOUBLE) AS den
  FROM edges e
  JOIN {prev} pi ON pi.item = e.i
  JOIN {prev} pj ON pj.item = e.j
  GROUP BY e.i
),
r{t} AS MATERIALIZED (
  SELECT it.item, ROUND((it.wins + 0.5) / d{t}.den, 12) AS pr
  FROM items it JOIN d{t} ON d{t}.item = it.item
),
p{t} AS MATERIALIZED (
  SELECT item,
         ROUND(pr / (SELECT CAST(SUM(CAST(pr AS DECIMAL(16,12))) AS DOUBLE)
                     FROM r{t}), 12) AS p
  FROM r{t}
)"""
        )
        prev = f"p{t}"
    parts.append(
        f"""
SELECT it.item, it.n_matches, it.wins,
       ROUND(p.p, 8) AS strength,
       CAST(ROW_NUMBER() OVER (ORDER BY p.p DESC, it.item) AS INT) AS rk
FROM items it JOIN {prev} p ON p.item = it.item
"""
    )
    return "".join(parts)


@query("q292_bradley_terry", oracle=_bt_oracle_sql())
def q292_bradley_terry(spark, sf_dir):
    """BRADLEY-TERRY STRENGTH RANKING from pairwise preferences
    (Hunter 2004 MM algorithm — the model behind chatbot-arena
    leaderboards and RLHF reward baselines): consecutive same-user
    events of different types form a "match" won by the higher value;
    eight minorization-maximization iterations
    p_i <- (W_i + 0.5) / sum_j n_ij/(p_i + p_j), renormalized each
    round, yield the item strengths and the leaderboard.

    Scale discipline: the corpus reduces in ONE lead-window pass + one
    groupBy to an item-pair match table (|items|^2 rows, item-domain-
    bounded — at 100 TB the number of compared models/variants stays
    tiny even when the preference stream doesn't). Each MM iteration
    is two broadcast joins + one aggregate over that tiny table; the
    oracle unrolls the same 8 iterations as SQL CTEs. Per-term
    round(,12) + DECIMAL sums make every iteration partition-order
    free; the half-win prior keeps strengths strictly positive (an
    all-loss item stays rankable)."""
    ev = load_table(spark, sf_dir, "events")
    w_ord = W.partitionBy("user_id").orderBy("ts_ns", "event_id")
    cur, nxt = F.col("cur"), F.col("nxt")
    cur_v, nxt_v = F.col("cur_v"), F.col("nxt_v")
    ordered = ev.select(
        F.col("event_type").alias("cur"),
        F.col("value").alias("cur_v"),
        F.lead("event_type").over(w_ord).alias("nxt"),
        F.lead("value").over(w_ord).alias("nxt_v"),
    )
    a_v = F.when(cur < nxt, cur_v).otherwise(nxt_v)
    b_v = F.when(cur < nxt, nxt_v).otherwise(cur_v)
    m = ordered.where(
        nxt.isNotNull() & (cur != nxt) & (cur_v != nxt_v)
    ).select(
        F.when(cur < nxt, cur).otherwise(nxt).alias("a"),
        F.when(cur < nxt, nxt).otherwise(cur).alias("b"),
        F.when(a_v > b_v, 1).otherwise(0).alias("wa"),
    )
    pairs = m.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("wa").cast("bigint").alias("wa"),
    )
    edges = (
        pairs.select(
            F.col("a").alias("i"), F.col("b").alias("j"), "n", F.col("wa").alias("w")
        )
        .unionByName(
            pairs.select(
                F.col("b").alias("i"),
                F.col("a").alias("j"),
                "n",
                (F.col("n") - F.col("wa")).alias("w"),
            )
        )
        .transform(managed_persist)
    )
    items = (
        edges.groupBy(F.col("i").alias("item"))
        .agg(
            F.sum("n").cast("bigint").alias("n_matches"),
            F.sum("w").cast("bigint").alias("wins"),
        )
        .transform(managed_persist)
    )
    k = items.agg(F.count(F.lit(1)).alias("k"))
    p = items.crossJoin(F.broadcast(k)).select(
        "item", F.round(F.lit(1.0) / F.col("k"), 12).alias("p")
    )
    for _ in range(_BT_ITERS):
        d = (
            edges.join(
                F.broadcast(
                    p.select(F.col("item").alias("i"), F.col("p").alias("p_i"))
                ),
                "i",
            )
            .join(
                F.broadcast(
                    p.select(F.col("item").alias("j"), F.col("p").alias("p_j"))
                ),
                "j",
            )
            .select(
                F.col("i").alias("item"),
                F.round(F.col("n") / (F.col("p_i") + F.col("p_j")), 12)
                .cast("decimal(20,12)")
                .alias("term"),
            )
            .groupBy("item")
            .agg(F.sum("term").cast("double").alias("den"))
        )
        r = items.join(d, "item").select(
            "item",
            F.round((F.col("wins") + F.lit(0.5)) / F.col("den"), 12).alias("pr"),
        )
        r = r.localCheckpoint(eager=True)  # q255 rule: truncate iterative lineage
        s = r.agg(F.sum(F.col("pr").cast("decimal(16,12)")).cast("double").alias("s"))
        p = r.crossJoin(F.broadcast(s)).select(
            "item", F.round(F.col("pr") / F.col("s"), 12).alias("p")
        )
    out = items.join(p, "item")
    return out.select(
        "item",
        "n_matches",
        "wins",
        F.round(F.col("p"), 8).alias("strength"),
        F.row_number()
        .over(W.orderBy(F.col("p").desc(), "item"))
        .cast("int")
        .alias("rk"),
    )


@query(
    "q293_mann_whitney",
    oracle="""
WITH s AS (
  SELECT event_type,
         CASE WHEN ((epoch_ns(ts) // 86400000000000) + 3) % 7 >= 5
              THEN 1 ELSE 0 END AS wkend,
         value AS v
  FROM events
),
rk AS (
  SELECT event_type, wkend, v,
         RANK() OVER (PARTITION BY event_type ORDER BY v) AS rmin,
         COUNT(*) OVER (PARTITION BY event_type, v) AS tc
  FROM s
),
grpagg AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN wkend = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend,
         CAST(SUM(CASE WHEN wkend = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_weekday,
         CAST(SUM(CASE WHEN wkend = 1 THEN 2 * rmin + tc - 1 ELSE 0 END)
              AS BIGINT) AS two_r1
  FROM rk GROUP BY event_type
),
ties AS (
  SELECT event_type, CAST(SUM(t * t * t - t) AS BIGINT) AS tsum
  FROM (SELECT event_type, v, COUNT(*) AS t FROM s GROUP BY event_type, v)
  GROUP BY event_type
)
SELECT g.event_type, n_weekend, n_weekday,
       ROUND(two_r1 / 2.0 - n_weekend * (n_weekend + 1) / 2.0, 1) AS u1,
       ROUND((two_r1 / 2.0 - n_weekend * (n_weekend + 1) / 2.0
              - n_weekend * n_weekday / 2.0)
             / sqrt((n_weekend * n_weekday / 12.0)
                    * ((n_weekend + n_weekday + 1)
                       - tsum / (CAST(n_weekend + n_weekday AS DOUBLE)
                                 * (n_weekend + n_weekday - 1)))), 6) AS z
FROM grpagg g JOIN ties t ON t.event_type = g.event_type
""",
)
def q293_mann_whitney(spark, sf_dir):
    """MANN-WHITNEY U RANK-SUM TEST per metric series, weekend vs
    weekday (the distribution-free two-sample test — the robust
    complement of q265's mean-based CUPED readout and the two-sample
    sibling of q171's KS statistic): U from rank sums with the exact
    tie-corrected normal approximation.

    Scale discipline: average ranks come from RANK + a tie-count
    window, so rank sums are INTEGER algebra (2*rmin + tc - 1 sums as
    exact bigints; the only halving happens once at the end —
    multiples of 0.5 are IEEE-exact at any magnitude that matters).
    Tie correction aggregates the (event_type, value) histogram, never
    the row stream. One sort-window per series partition; day-of-week
    is pure integer epoch arithmetic, identical on both engines."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.when(
            (F.expr("ts_ns DIV 86400000000000") + 3) % 7 >= 5, 1
        ).otherwise(0).alias("wkend"),
        F.col("value").alias("v"),
    )
    rk = s.select(
        "event_type",
        "wkend",
        "v",
        F.rank().over(W.partitionBy("event_type").orderBy("v")).alias("rmin"),
        F.count(F.lit(1)).over(W.partitionBy("event_type", "v")).alias("tc"),
    )
    grpagg = rk.groupBy("event_type").agg(
        F.sum(F.when(F.col("wkend") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_weekend"),
        F.sum(F.when(F.col("wkend") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_weekday"),
        F.sum(
            F.when(F.col("wkend") == 1, 2 * F.col("rmin") + F.col("tc") - 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("two_r1"),
    )
    ties = (
        s.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("bigint")
            .alias("tsum")
        )
    )
    n1, n2 = F.col("n_weekend"), F.col("n_weekday")
    r1 = F.col("two_r1") / 2.0
    u1 = r1 - n1 * (n1 + 1) / 2.0
    var = (n1 * n2 / 12.0) * (
        (n1 + n2 + 1) - F.col("tsum") / ((n1 + n2).cast("double") * (n1 + n2 - 1))
    )
    return grpagg.join(ties, "event_type").select(
        "event_type",
        "n_weekend",
        "n_weekday",
        F.round(u1, 1).alias("u1"),
        F.round((u1 - n1 * n2 / 2.0) / F.sqrt(var), 6).alias("z"),
    )


@query(
    "q295_theil_sen",
    oracle="""
WITH daily AS (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, day
),
rel AS (
  SELECT event_type,
         day - MIN(day) OVER (PARTITION BY event_type) AS d,
         m
  FROM daily
),
slopes AS (
  SELECT a.event_type,
         ROUND((b.m - a.m) / (b.d - a.d), 9) AS sl
  FROM rel a JOIN rel b
    ON a.event_type = b.event_type AND b.d > a.d
),
med AS (
  SELECT event_type, sl,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY sl) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS np
  FROM slopes
),
slope_pick AS (
  SELECT event_type, CAST(np AS BIGINT) AS n_pairs, sl AS ts_slope
  FROM med WHERE rn = (np + 1) // 2
),
resid AS (
  SELECT r.event_type, ROUND(r.m - s.ts_slope * r.d, 9) AS ic
  FROM rel r JOIN slope_pick s ON s.event_type = r.event_type
),
icmed AS (
  SELECT event_type, ic,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ic) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS nd
  FROM resid
)
SELECT s.event_type, CAST(i.nd AS BIGINT) AS n_days, s.n_pairs,
       s.ts_slope, i.ic AS ts_intercept
FROM slope_pick s
JOIN icmed i ON i.event_type = s.event_type AND i.rn = (i.nd + 1) // 2
""",
)
def q295_theil_sen(spark, sf_dir):
    """THEIL-SEN ROBUST TREND per metric series (median of pairwise
    slopes — the 29%-breakdown robust complement of q165's group-wise
    OLS; the estimator monitoring pipelines reach for when a deploy
    spike would drag a least-squares slope): slope = lower median of
    all pairwise daily-mean slopes, intercept = lower median of the
    residuals at that slope.

    Scale discipline: the row stream collapses to CALENDAR-BOUNDED
    daily means first (one map-side-combinable aggregate with DECIMAL
    sums) — the O(days^2) pair join runs on ~30 rows per series no
    matter how many raw events back them; at 100 TB the pair table
    grows with elapsed time, not data volume. Exact lower-median by
    row_number (the q220 rank-pick convention, no engine
    interpolation); slopes snap to 9 digits before ranking so the
    median PICK, not just its value, is cross-engine identical."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m"),
    )
    rel = daily.select(
        "event_type",
        (F.col("day") - F.min("day").over(W.partitionBy("event_type"))).alias("d"),
        "m",
    ).transform(managed_persist)
    b = rel.select(
        "event_type", F.col("d").alias("d2"), F.col("m").alias("m2")
    )
    slopes = (
        rel.join(b, "event_type")
        .where(F.col("d2") > F.col("d"))
        .select(
            "event_type",
            F.round((F.col("m2") - F.col("m")) / (F.col("d2") - F.col("d")), 9).alias(
                "sl"
            ),
        )
    )
    wm = W.partitionBy("event_type").orderBy("sl")
    med = slopes.select(
        "event_type",
        "sl",
        F.row_number().over(wm).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("np"),
    )
    slope_pick = med.where(F.col("rn") == F.expr("(np + 1) DIV 2")).select(
        "event_type", F.col("np").cast("bigint").alias("n_pairs"), F.col("sl").alias("ts_slope")
    )
    resid = rel.join(F.broadcast(slope_pick), "event_type").select(
        "event_type",
        F.round(F.col("m") - F.col("ts_slope") * F.col("d"), 9).alias("ic"),
    )
    wi = W.partitionBy("event_type").orderBy("ic")
    icmed = resid.select(
        "event_type",
        "ic",
        F.row_number().over(wi).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("nd"),
    ).where(F.col("rn") == F.expr("(nd + 1) DIV 2"))
    return slope_pick.join(icmed, "event_type").select(
        "event_type",
        F.col("nd").cast("bigint").alias("n_days"),
        "n_pairs",
        "ts_slope",
        F.col("ic").alias("ts_intercept"),
    )


@query(
    "q298_acf",
    oracle="""
WITH hourly AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 3600000000000 AS h,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, h
),
stats AS MATERIALIZED (
  SELECT event_type,
         ROUND(CAST(SUM(CAST(m AS DECIMAL(16,6))) AS DOUBLE) / COUNT(*), 6) AS mbar,
         CAST(COUNT(*) AS BIGINT) AS n_hours
  FROM hourly GROUP BY event_type
),
dev AS MATERIALIZED (
  SELECT h.event_type, h.h, h.m - s.mbar AS d
  FROM hourly h JOIN stats s ON s.event_type = h.event_type
),
den AS MATERIALIZED (
  SELECT event_type,
         CAST(SUM(CAST(ROUND(d * d, 10) AS DECIMAL(24,10))) AS DOUBLE) AS ss
  FROM dev GROUP BY event_type
),
lagged AS (
  SELECT a.event_type, k.k,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CAST(ROUND(a.d * b.d, 10) AS DECIMAL(24,10))) AS DOUBLE) AS sp
  FROM dev a
  CROSS JOIN (SELECT unnest(generate_series(1, 6)) AS k) k
  JOIN dev b ON b.event_type = a.event_type AND b.h = a.h + k.k
  GROUP BY a.event_type, k.k
)
SELECT l.event_type, CAST(l.k AS INT) AS lag_hours, l.n_pairs, s.n_hours,
       ROUND(l.sp / d.ss, 6) AS acf
FROM lagged l
JOIN den d ON d.event_type = l.event_type
JOIN stats s ON s.event_type = l.event_type
""",
)
def q298_acf(spark, sf_dir):
    """AUTOCORRELATION FUNCTION at lags 1-6 h per metric series (the
    Box-Jenkins identification step: is the series AR-ish, seasonal,
    or white noise? — feeds the q287 seasonality and q267 smoothing
    choices): ACF(k) = sum dev_t*dev_{t+k} / sum dev_t^2 over the
    hourly-mean grid.

    Scale discipline: the row stream collapses to CALENDAR-BOUNDED
    hourly means first; lag alignment is an EQUI-join on (series,
    h+k) — gap-safe where a row-offset LAG window would silently pair
    across missing hours — fanned out by a 6-row lag spine. Deviations
    subtract two 6-dp-snapped values (exact in IEEE); products snap to
    10 digits before DECIMAL sums, so numerator and denominator are
    partition-order free."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 3600000000000").alias("h")
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    )
    stats = hourly.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("m").cast("decimal(16,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mbar"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
    )
    dev = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type", "h", (F.col("m") - F.col("mbar")).alias("d")
    ).transform(managed_persist)
    den = dev.groupBy("event_type").agg(
        F.sum(F.round(F.col("d") * F.col("d"), 10).cast("decimal(24,10)"))
        .cast("double")
        .alias("ss")
    )
    ks = spark.range(1, 7).select(F.col("id").alias("k"))
    b = dev.select(
        "event_type", F.col("h").alias("h2"), F.col("d").alias("d2")
    )
    lagged = (
        dev.crossJoin(F.broadcast(ks))
        .withColumn("h2", F.col("h") + F.col("k"))
        .join(b, ["event_type", "h2"])
        .groupBy("event_type", "k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.round(F.col("d") * F.col("d2"), 10).cast("decimal(24,10)"))
            .cast("double")
            .alias("sp"),
        )
    )
    return (
        lagged.join(F.broadcast(den), "event_type")
        .join(F.broadcast(stats.select("event_type", "n_hours")), "event_type")
        .select(
            "event_type",
            F.col("k").cast("int").alias("lag_hours"),
            "n_pairs",
            "n_hours",
            F.round(F.col("sp") / F.col("ss"), 6).alias("acf"),
        )
    )


@query(
    "q301_kendall_tau",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS c,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, day
),
pairs AS (
  SELECT a.event_type,
         CASE WHEN (a.m < b.m AND a.c < b.c) OR (a.m > b.m AND a.c > b.c)
              THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.m < b.m AND a.c > b.c) OR (a.m > b.m AND a.c < b.c)
              THEN 1 ELSE 0 END AS disc,
         CASE WHEN a.m = b.m AND a.c <> b.c THEN 1 ELSE 0 END AS tie_m,
         CASE WHEN a.c = b.c AND a.m <> b.m THEN 1 ELSE 0 END AS tie_c,
         CASE WHEN a.m = b.m AND a.c = b.c THEN 1 ELSE 0 END AS tie_both
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.day > a.day
),
agg AS (
  SELECT event_type,
         CAST(SUM(conc) AS BIGINT) AS n_conc,
         CAST(SUM(disc) AS BIGINT) AS n_disc,
         CAST(SUM(tie_m) AS BIGINT) AS t_m,
         CAST(SUM(tie_c) AS BIGINT) AS t_c,
         CAST(SUM(tie_both) AS BIGINT) AS t_both,
         CAST(COUNT(*) AS BIGINT) AS n0
  FROM pairs GROUP BY event_type
)
SELECT event_type, n_conc, n_disc, t_m, t_c, t_both,
       ROUND((n_conc - n_disc)
             / sqrt(CAST(n0 - t_m - t_both AS DOUBLE)
                    * (n0 - t_c - t_both)), 6) AS tau_b
FROM agg
""",
)
def q301_kendall_tau(spark, sf_dir):
    """KENDALL TAU-B rank correlation between daily MEAN VALUE and
    daily EVENT COUNT per series (does traffic move with intensity? —
    the ordinal, tie-aware complement of q170's Spearman rho and the
    pairwise sibling of q295's Theil-Sen): concordant/discordant pair
    counts with the full tie decomposition and the tau-b denominator.

    Scale discipline: the pair table is over CALENDAR-BOUNDED daily
    aggregates (~30 rows/series regardless of corpus size) — the
    O(days^2) join never touches the raw stream, which reduces in one
    map-side-combinable pass. Every cell is an exact integer; tau-b
    is one sqrt division snapped at 6 digits."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m"),
    ).transform(managed_persist)
    b = daily.select(
        "event_type",
        F.col("day").alias("day2"),
        F.col("c").alias("c2"),
        F.col("m").alias("m2"),
    )
    am, bm, ac, bc = F.col("m"), F.col("m2"), F.col("c"), F.col("c2")
    pairs = (
        daily.join(b, "event_type")
        .where(F.col("day2") > F.col("day"))
        .select(
            "event_type",
            F.when(((am < bm) & (ac < bc)) | ((am > bm) & (ac > bc)), 1)
            .otherwise(0)
            .alias("conc"),
            F.when(((am < bm) & (ac > bc)) | ((am > bm) & (ac < bc)), 1)
            .otherwise(0)
            .alias("disc"),
            F.when((am == bm) & (ac != bc), 1).otherwise(0).alias("tie_m"),
            F.when((ac == bc) & (am != bm), 1).otherwise(0).alias("tie_c"),
            F.when((am == bm) & (ac == bc), 1).otherwise(0).alias("tie_both"),
        )
    )
    agg = pairs.groupBy("event_type").agg(
        F.sum("conc").cast("bigint").alias("n_conc"),
        F.sum("disc").cast("bigint").alias("n_disc"),
        F.sum("tie_m").cast("bigint").alias("t_m"),
        F.sum("tie_c").cast("bigint").alias("t_c"),
        F.sum("tie_both").cast("bigint").alias("t_both"),
        F.count(F.lit(1)).cast("bigint").alias("n0"),
    )
    n0 = F.col("n0")
    return agg.select(
        "event_type",
        "n_conc",
        "n_disc",
        "t_m",
        "t_c",
        "t_both",
        F.round(
            (F.col("n_conc") - F.col("n_disc"))
            / F.sqrt(
                (n0 - F.col("t_m") - F.col("t_both")).cast("double")
                * (n0 - F.col("t_c") - F.col("t_both"))
            ),
            6,
        ).alias("tau_b"),
    )


_HOLT_A = 0.4
_HOLT_B = 0.2


@query(
    "q302_holt_linear",
    oracle=f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, day
),
rel AS MATERIALIZED (
  SELECT event_type, m,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
),
walk AS (
  SELECT r1.event_type, 1 AS t, r1.m AS l, r2.m - r1.m AS b
  FROM rel r1 JOIN rel r2 ON r2.event_type = r1.event_type AND r2.rn = 2
  WHERE r1.rn = 1
  UNION ALL
  SELECT w.event_type, w.t + 1,
         {_HOLT_A!r} * r.m + {1.0 - _HOLT_A!r} * (w.l + w.b),
         {_HOLT_B!r} * (({_HOLT_A!r} * r.m + {1.0 - _HOLT_A!r} * (w.l + w.b)) - w.l)
           + {1.0 - _HOLT_B!r} * w.b
  FROM walk w JOIN rel r ON r.event_type = w.event_type AND r.rn = w.t + 1
)
SELECT w.event_type, CAST(w.t AS BIGINT) AS n_obs,
       ROUND(w.l, 6) AS level, ROUND(w.b, 6) AS trend,
       ROUND(w.l + 7 * w.b, 6) AS forecast
FROM walk w
JOIN (SELECT event_type, MAX(rn) AS mx FROM rel GROUP BY event_type) q
  ON q.event_type = w.event_type AND w.t = q.mx
""",
)
def q302_holt_linear(spark, sf_dir):
    """HOLT LINEAR (double-exponential) SMOOTHING per metric series —
    the level+trend forecaster one rung above q267's flat EWMA (which
    cannot track a trending series), with a 7-day-ahead forecast; the
    classic capacity-planning readout. alpha=0.4, beta=0.2,
    l_1 = m_1, b_1 = m_2 - m_1.

    Scale discipline: the recursion is inherently sequential PER
    SERIES, so it runs as an ``applyInPandas`` kernel over
    CALENDAR-BOUNDED daily means — Spark hash-partitions the series;
    each group is a ~30-step float64 scan. The ORACLE replays the walk
    as a recursive CTE with the IDENTICAL multiply/add shapes (1-alpha
    injected as the computed Python double, not a re-derived literal),
    so kernel and SQL agree bit-for-bit with NO intermediate rounding
    — the strongest cross-engine pin the sequential family has."""
    from variantcalling_spark.operators.kernels import holt_linear_smooth

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    )
    out = holt_linear_smooth(
        daily.select(F.col("event_type").alias("series"), F.col("day").alias("t"), "m"),
        alpha=_HOLT_A,
        beta=_HOLT_B,
        horizon=7,
    )
    return out.select(
        F.col("series").alias("event_type"),
        "n_obs",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast", 6).alias("forecast"),
    )


@query(
    "q305_position_attribution",
    oracle=f"""
WITH purchases AS (
  SELECT event_id, user_id, epoch_ns(ts) AS t, value
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, epoch_ns(ts) AS t_click,
         CAST(regexp_extract(props, '[0-9]+') AS BIGINT) % 5 AS campaign
  FROM events WHERE event_type = 'click'
),
touched AS (
  SELECT p.event_id, p.value, c.campaign,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY c.t_click, c.campaign) AS rn_asc,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY c.t_click DESC, c.campaign DESC) AS rn_desc,
         COUNT(*) OVER (PARTITION BY p.event_id) AS k
  FROM purchases p JOIN clicks c
    ON c.user_id = p.user_id
   AND c.t_click < p.t
   AND c.t_click >= p.t - {{LOOKBACK}}
),
credited AS (
  SELECT 'campaign_' || CAST(campaign AS VARCHAR) AS bucket, value,
         ROUND(CASE WHEN k = 1 THEN 1.0
                    WHEN k = 2 THEN 0.5
                    WHEN rn_asc = 1 OR rn_desc = 1 THEN 0.4
                    ELSE 0.2 / (k - 2) END, 8) AS credit
  FROM touched
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       ROUND(CAST(SUM(CAST(credit AS DECIMAL(12,8))) AS DOUBLE), 4)
         AS attributed_conversions,
       ROUND(CAST(SUM(CAST(ROUND(credit * value, 6) AS DECIMAL(18,6)))
                  AS DOUBLE), 4) AS attributed_revenue
FROM credited GROUP BY bucket
""".replace("{LOOKBACK}", str(_ATTR_LOOKBACK_NS)),
)
def q305_position_attribution(spark, sf_dir):
    """POSITION-BASED (U-SHAPED) MULTI-TOUCH ATTRIBUTION — the 40/20/40
    model beside q284's last-touch: first and last qualifying touches
    take 0.4 of the conversion each, the middle touches split 0.2
    (k=1 -> 1.0, k=2 -> 0.5/0.5). The industry-standard answer to
    "last-touch starves discovery campaigns".

    Scale discipline: the touch table is the SAME user-keyed
    conversion x lookback-click join as q284 (per-user bounded — at
    100 TB the join is user-partitioned and the lookback predicate
    prunes it); positions come from two windows per conversion, k from
    one count window. Credits snap to 8 digits, revenue terms to 6,
    then DECIMAL sums — conservation holds to rounding: sum of credits
    per conversion is 1 by construction."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts_ns").alias("t"), "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts_ns").alias("t_click"),
        (F.regexp_extract("props", "[0-9]+", 0).cast("bigint") % 5).alias(
            "campaign"
        ),
    )
    touched = (
        purchases.join(clicks, "user_id")
        .where(
            (F.col("t_click") < F.col("t"))
            & (F.col("t_click") >= F.col("t") - F.lit(_ATTR_LOOKBACK_NS))
        )
        .select(
            "event_id",
            "value",
            "campaign",
            F.row_number()
            .over(W.partitionBy("event_id").orderBy("t_click", "campaign"))
            .alias("rn_asc"),
            F.row_number()
            .over(
                W.partitionBy("event_id").orderBy(
                    F.col("t_click").desc(), F.col("campaign").desc()
                )
            )
            .alias("rn_desc"),
            F.count(F.lit(1)).over(W.partitionBy("event_id")).alias("k"),
        )
    )
    k = F.col("k")
    credit = F.round(
        F.when(k == 1, F.lit(1.0))
        .when(k == 2, F.lit(0.5))
        .when((F.col("rn_asc") == 1) | (F.col("rn_desc") == 1), F.lit(0.4))
        .otherwise(F.lit(0.2) / (k - 2)),
        8,
    )
    credited = touched.select(
        F.concat(F.lit("campaign_"), F.col("campaign").cast("string")).alias(
            "bucket"
        ),
        "value",
        credit.alias("credit"),
    )
    return credited.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.round(
            F.sum(F.col("credit").cast("decimal(12,8)")).cast("double"), 4
        ).alias("attributed_conversions"),
        F.round(
            F.sum(
                F.round(F.col("credit") * F.col("value"), 6).cast("decimal(18,6)")
            ).cast("double"),
            4,
        ).alias("attributed_revenue"),
    )


_EM_ITERS = 4


def _em_oracle_sql() -> str:
    parts = [
        """
WITH hist AS MATERIALIZED (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS c,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY c
),
tot AS MATERIALIZED (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM hist),
cum AS MATERIALIZED (
  SELECT c, n, SUM(n) OVER (ORDER BY c) AS cum FROM hist
),
init AS MATERIALIZED (
  SELECT
    (SELECT MIN(c) FROM cum
      WHERE cum >= CAST(CEIL(0.25 * (SELECT nn FROM tot)) AS BIGINT)) / 100.0
      AS mu1,
    (SELECT MIN(c) FROM cum
      WHERE cum >= CAST(CEIL(0.75 * (SELECT nn FROM tot)) AS BIGINT)) / 100.0
      AS mu2,
    (SELECT ROUND(
       CAST(SUM(CAST(ROUND(n * (c / 100.0) * (c / 100.0), 4) AS DECIMAL(24,4)))
            AS DOUBLE) / (SELECT nn FROM tot)
       - (CAST(SUM(CAST(ROUND(n * (c / 100.0), 2) AS DECIMAL(20,2)))
               AS DOUBLE) / (SELECT nn FROM tot))
         * (CAST(SUM(CAST(ROUND(n * (c / 100.0), 2) AS DECIMAL(20,2)))
                 AS DOUBLE) / (SELECT nn FROM tot)), 8)
     FROM hist) AS v0,
    0.5 AS pi1
),
p0 AS MATERIALIZED (
  SELECT mu1, v0 AS var1, mu2, v0 AS var2, pi1 FROM init
)"""
    ]
    prev = "p0"
    for t in range(1, _EM_ITERS + 1):
        parts.append(
            f""",
e{t} AS MATERIALIZED (
  SELECT h.c, h.n, h.c / 100.0 AS x,
         ROUND(
           CASE WHEN
             p.pi1 * exp(-(h.c / 100.0 - p.mu1) * (h.c / 100.0 - p.mu1)
                         / (2 * p.var1)) / sqrt(p.var1)
             + (1 - p.pi1) * exp(-(h.c / 100.0 - p.mu2) * (h.c / 100.0 - p.mu2)
                                 / (2 * p.var2)) / sqrt(p.var2) > 0
           THEN
             p.pi1 * exp(-(h.c / 100.0 - p.mu1) * (h.c / 100.0 - p.mu1)
                         / (2 * p.var1)) / sqrt(p.var1)
             / (p.pi1 * exp(-(h.c / 100.0 - p.mu1) * (h.c / 100.0 - p.mu1)
                            / (2 * p.var1)) / sqrt(p.var1)
                + (1 - p.pi1) * exp(-(h.c / 100.0 - p.mu2) * (h.c / 100.0 - p.mu2)
                                    / (2 * p.var2)) / sqrt(p.var2))
           ELSE 0.5 END, 10) AS r
  FROM hist h CROSS JOIN {prev} p
),
m{t} AS MATERIALIZED (
  SELECT
    CAST(SUM(CAST(ROUND(n * r, 10) AS DECIMAL(26,10))) AS DOUBLE) AS sr1,
    CAST(SUM(CAST(ROUND(n * r * x, 8) AS DECIMAL(26,8))) AS DOUBLE) AS sx1,
    CAST(SUM(CAST(ROUND(n * r * x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx1,
    CAST(SUM(CAST(ROUND(n * (1 - r), 10) AS DECIMAL(26,10))) AS DOUBLE) AS sr2,
    CAST(SUM(CAST(ROUND(n * (1 - r) * x, 8) AS DECIMAL(26,8))) AS DOUBLE) AS sx2,
    CAST(SUM(CAST(ROUND(n * (1 - r) * x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx2
  FROM e{t}
),
p{t} AS MATERIALIZED (
  SELECT ROUND(sx1 / sr1, 8) AS mu1,
         ROUND(sxx1 / sr1 - ROUND(sx1 / sr1, 8) * ROUND(sx1 / sr1, 8), 8) AS var1,
         ROUND(sx2 / sr2, 8) AS mu2,
         ROUND(sxx2 / sr2 - ROUND(sx2 / sr2, 8) * ROUND(sx2 / sr2, 8), 8) AS var2,
         ROUND(sr1 / (SELECT nn FROM tot), 8) AS pi1
  FROM m{t}
)"""
        )
        prev = f"p{t}"
    parts.append(
        f"""
SELECT (SELECT nn FROM tot) AS n,
       ROUND(CASE WHEN mu1 <= mu2 THEN pi1 ELSE 1 - pi1 END, 6) AS pi_lo,
       ROUND(CASE WHEN mu1 <= mu2 THEN mu1 ELSE mu2 END, 6) AS mu_lo,
       ROUND(sqrt(CASE WHEN mu1 <= mu2 THEN var1 ELSE var2 END), 6) AS sd_lo,
       ROUND(CASE WHEN mu1 <= mu2 THEN mu2 ELSE mu1 END, 6) AS mu_hi,
       ROUND(sqrt(CASE WHEN mu1 <= mu2 THEN var2 ELSE var1 END), 6) AS sd_hi
FROM {prev}
"""
    )
    return "".join(parts)


@query("q306_em_gaussian", oracle=_em_oracle_sql())
def q306_em_gaussian(spark, sf_dir):
    """TWO-COMPONENT GAUSSIAN MIXTURE via EM (the soft-clustering
    classic — the distributional complement of the hard k-means
    codebooks in the PQ/IVF family, and the model behind bimodality
    checks on quality/latency metrics): 4 EM iterations over the VALUE
    HISTOGRAM, quartile-initialized, components reported low/high by
    mean.

    Scale discipline: the E-step runs on the value-domain histogram
    (cents), never the row stream — the corpus reduces once to
    (cent, count) and every iteration is one broadcast of 5 parameters
    + one map-side-combinable aggregate over that bounded table. Per-
    iteration parameters are 5 scalars collected to the driver (the
    bounded-Lloyd's-loop pattern the similarity family already uses);
    every snap (r at 10, moments at 10/8/6, params at 8) happens
    IN-ENGINE on both sides, so the oracle's unrolled iterations agree
    exactly. The responsibility guard (d1+d2 <= 0 -> 0.5) keeps far
    tails NaN-free."""
    import math

    ev = load_table(spark, sf_dir, "events")
    hist = (
        ev.groupBy(F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .transform(managed_persist)
    )
    tot = hist.agg(F.sum("n").cast("bigint").alias("nn")).collect()[0]
    nn = tot.nn
    cum = hist.select(
        "c", "n", F.sum("n").over(W.orderBy("c")).alias("cum")
    )
    mu1 = (
        cum.where(F.col("cum") >= int(math.ceil(0.25 * nn)))
        .agg(F.min("c"))
        .collect()[0][0]
        / 100.0
    )
    mu2 = (
        cum.where(F.col("cum") >= int(math.ceil(0.75 * nn)))
        .agg(F.min("c"))
        .collect()[0][0]
        / 100.0
    )
    x = F.col("c") / F.lit(100.0)
    v0row = hist.agg(
        F.round(
            F.sum(F.round(F.col("n") * x * x, 4).cast("decimal(24,4)")).cast(
                "double"
            )
            / nn
            - (
                F.sum(F.round(F.col("n") * x, 2).cast("decimal(20,2)")).cast(
                    "double"
                )
                / nn
            )
            * (
                F.sum(F.round(F.col("n") * x, 2).cast("decimal(20,2)")).cast(
                    "double"
                )
                / nn
            ),
            8,
        ).alias("v0")
    ).collect()[0]
    var1 = var2 = v0row.v0
    pi1 = 0.5
    for _ in range(_EM_ITERS):
        p_mu1, p_v1, p_mu2, p_v2, p_pi = (
            F.lit(mu1),
            F.lit(var1),
            F.lit(mu2),
            F.lit(var2),
            F.lit(pi1),
        )
        d1 = p_pi * F.exp(-(x - p_mu1) * (x - p_mu1) / (2 * p_v1)) / F.sqrt(p_v1)
        d2 = (
            (1 - p_pi)
            * F.exp(-(x - p_mu2) * (x - p_mu2) / (2 * p_v2))
            / F.sqrt(p_v2)
        )
        r = F.round(
            F.when(d1 + d2 > 0, d1 / (d1 + d2)).otherwise(F.lit(0.5)), 10
        )
        e = hist.select("c", "n", x.alias("x"), r.alias("r"))
        nr, xr = F.col("n") * F.col("r"), F.col("n") * F.col("r") * F.col("x")
        n2, x2 = F.col("n") * (1 - F.col("r")), F.col("n") * (1 - F.col("r")) * F.col("x")
        m = e.agg(
            F.sum(F.round(nr, 10).cast("decimal(26,10)")).cast("double").alias("sr1"),
            F.sum(F.round(xr, 8).cast("decimal(26,8)")).cast("double").alias("sx1"),
            F.sum(F.round(xr * F.col("x"), 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("sxx1"),
            F.sum(F.round(n2, 10).cast("decimal(26,10)")).cast("double").alias("sr2"),
            F.sum(F.round(x2, 8).cast("decimal(26,8)")).cast("double").alias("sx2"),
            F.sum(F.round(x2 * F.col("x"), 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("sxx2"),
        )
        upd = m.select(
            F.round(F.col("sx1") / F.col("sr1"), 8).alias("mu1"),
            F.round(
                F.col("sxx1") / F.col("sr1")
                - F.round(F.col("sx1") / F.col("sr1"), 8)
                * F.round(F.col("sx1") / F.col("sr1"), 8),
                8,
            ).alias("var1"),
            F.round(F.col("sx2") / F.col("sr2"), 8).alias("mu2"),
            F.round(
                F.col("sxx2") / F.col("sr2")
                - F.round(F.col("sx2") / F.col("sr2"), 8)
                * F.round(F.col("sx2") / F.col("sr2"), 8),
                8,
            ).alias("var2"),
            F.round(F.col("sr1") / F.lit(float(nn)), 8).alias("pi1"),
        ).collect()[0]
        mu1, var1, mu2, var2, pi1 = (
            upd.mu1,
            upd.var1,
            upd.mu2,
            upd.var2,
            upd.pi1,
        )
    lo_first = mu1 <= mu2
    pi_lo = pi1 if lo_first else 1 - pi1
    mu_lo, v_lo = (mu1, var1) if lo_first else (mu2, var2)
    mu_hi, v_hi = (mu2, var2) if lo_first else (mu1, var1)
    return hist.agg(F.sum("n").cast("bigint").alias("n")).select(
        "n",
        F.round(F.lit(pi_lo), 6).alias("pi_lo"),
        F.round(F.lit(mu_lo), 6).alias("mu_lo"),
        F.round(F.sqrt(F.lit(v_lo)), 6).alias("sd_lo"),
        F.round(F.lit(mu_hi), 6).alias("mu_hi"),
        F.round(F.sqrt(F.lit(v_hi)), 6).alias("sd_hi"),
    )


def _dtw_oracle_sql() -> str:
    from variantcalling_spark.operators.kernels import DTW_BIG

    val = f"""
      CASE WHEN i = 0 OR d + 1 - i = 0 THEN CAST({DTW_BIG} AS BIGINT)
           ELSE ABS(xa[CAST(i AS INT)] - xb[CAST(d + 1 - i AS INT)])
                + LEAST(
                    prev[CAST(i - GREATEST(0, d - 1 - m) AS INT)],
                    cur[CAST(i - GREATEST(0, d - m) AS INT)],
                    cur[CAST(i + 1 - GREATEST(0, d - m) AS INT)])
      END"""
    return f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         CAST(ROUND(ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                          / COUNT(*), 6) * 1000000) AS BIGINT) AS mi
  FROM events GROUP BY event_type, day
),
arrs AS MATERIALIZED (
  SELECT event_type, list(mi ORDER BY day) AS xs, CAST(COUNT(*) AS INT) AS len
  FROM daily GROUP BY event_type
),
pairs AS MATERIALIZED (
  SELECT a.event_type AS ea, b.event_type AS eb,
         a.xs AS xa, b.xs AS xb, a.len AS n, b.len AS m
  FROM arrs a JOIN arrs b ON a.event_type < b.event_type
),
rec AS (
  SELECT ea, eb, xa, xb, n, m, 0 AS d,
         [CAST(0 AS BIGINT)] AS cur, CAST(NULL AS BIGINT[]) AS prev
  FROM pairs
  UNION ALL
  SELECT ea, eb, xa, xb, n, m, d + 1,
         list_transform(generate_series(GREATEST(0, d + 1 - m), LEAST(n, d + 1)),
                        i -> {val}) AS cur,
         cur AS prev
  FROM rec WHERE d < n + m
)
SELECT ea, eb, CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
       ROUND(cur[1] / 1000000.0, 6) AS dtw,
       ROUND(cur[1] / ((n + m) * 1000000.0), 6) AS dtw_norm
FROM rec WHERE d = n + m
"""


@query("q307_dtw_distance", oracle=_dtw_oracle_sql())
def q307_dtw_distance(spark, sf_dir):
    """DYNAMIC TIME WARPING distance between every pair of metric
    series (the elastic-alignment similarity under time-series
    clustering and motif search — tolerant of phase shifts that break
    the rigid lag alignment of q298's ACF and the pointwise deltas of
    q171's KS): full DP over the daily-mean grids, plus the
    path-length-normalized distance.

    Scale discipline: series collapse to CALENDAR-BOUNDED daily grids
    quantized to integer micro-units, so the O(len^2) DP is integer-
    exact and bounded by elapsed days, not corpus size; pairs
    distribute freely through an Arrow ``mapInPandas`` kernel (two DP
    rows of state). The ORACLE replays the identical DP as a wavefront
    recursive CTE over anti-diagonals — every cell pinned, the q219
    convention extended to numeric series."""
    from variantcalling_spark.operators.kernels import dtw_pair_distances

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.expr(
            "CAST(ROUND(ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)"
            " / COUNT(*), 6) * 1000000) AS BIGINT)"
        ).alias("mi")
    )
    arrs = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "mi"))),
            lambda s: s.getField("mi"),
        ).alias("xs")
    ).transform(managed_persist)
    pairs = (
        arrs.select(F.col("event_type").alias("ea"), F.col("xs").alias("xa"))
        .join(
            arrs.select(F.col("event_type").alias("eb"), F.col("xs").alias("xb")),
            F.col("ea") < F.col("eb"),
        )
    )
    out = dtw_pair_distances(pairs)
    return out.select(
        "ea",
        "eb",
        "n_a",
        "n_b",
        F.round(F.col("dtw_micro") / 1000000.0, 6).alias("dtw"),
        F.round(
            F.col("dtw_micro") / ((F.col("n_a") + F.col("n_b")) * 1000000.0), 6
        ).alias("dtw_norm"),
    )


@query(
    "q309_welch_ttest",
    oracle="""
WITH stats AS MATERIALIZED (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6)
           AS mean,
         ROUND((CAST(SUM(CAST(value AS DECIMAL(12,2))
                         * CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                - COUNT(*) * ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2)))
                                        AS DOUBLE) / COUNT(*), 6)
                           * ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2)))
                                        AS DOUBLE) / COUNT(*), 6))
               / (COUNT(*) - 1), 6) AS var
  FROM events GROUP BY event_type
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       a.n AS n_a, b.n AS n_b,
       ROUND(a.mean - b.mean, 6) AS mean_diff,
       ROUND((a.mean - b.mean)
             / sqrt(a.var / a.n + b.var / b.n), 6) AS welch_t,
       ROUND((a.var / a.n + b.var / b.n) * (a.var / a.n + b.var / b.n)
             / ((a.var / a.n) * (a.var / a.n) / (a.n - 1)
                + (b.var / b.n) * (b.var / b.n) / (b.n - 1)), 2) AS welch_df
FROM stats a JOIN stats b ON a.event_type < b.event_type
""",
)
def q309_welch_ttest(spark, sf_dir):
    """WELCH'S UNEQUAL-VARIANCE t-TEST for every series pair — the
    pairwise drill-down after q277's one-way ANOVA says "something
    differs" (Welch never assumes pooled variance, so heteroscedastic
    metric series don't produce false certainty), with the
    Welch-Satterthwaite effective degrees of freedom.

    Scale discipline: the corpus reduces once to per-group (n, mean,
    variance) sufficient statistics via exact DECIMAL sums snapped at
    6 digits; the pair table is group-domain-bounded and every t/df is
    closed-form arithmetic over snapped inputs — identical doubles on
    both engines before the final rounds."""
    ev = load_table(spark, sf_dir, "events")
    dv = dec("value")
    mean_expr = F.round(F.sum(dv).cast("double") / F.count(F.lit(1)), 6)
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        mean_expr.alias("mean"),
        F.round(
            (
                F.sum(dv * dv).cast("double")
                - F.count(F.lit(1)) * mean_expr * mean_expr
            )
            / (F.count(F.lit(1)) - 1),
            6,
        ).alias("var"),
    ).transform(managed_persist)
    b = stats.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    j = stats.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    ).join(b, F.col("type_a") < F.col("type_b"))
    va_n = F.col("var_a") / F.col("n_a")
    vb_n = F.col("var_b") / F.col("n_b")
    return j.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        F.round(F.col("mean_a") - F.col("mean_b"), 6).alias("mean_diff"),
        F.round(
            (F.col("mean_a") - F.col("mean_b")) / F.sqrt(va_n + vb_n), 6
        ).alias("welch_t"),
        F.round(
            (va_n + vb_n) * (va_n + vb_n)
            / (
                va_n * va_n / (F.col("n_a") - 1)
                + vb_n * vb_n / (F.col("n_b") - 1)
            ),
            2,
        ).alias("welch_df"),
    )


@query(
    "q310_mann_kendall",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, day
),
pairs AS (
  SELECT a.event_type,
         CASE WHEN b.m > a.m THEN 1 WHEN b.m < a.m THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.day > a.day
),
s AS (
  SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat
  FROM pairs GROUP BY event_type
),
nd AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY event_type
),
ties AS (
  SELECT event_type,
         CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tsum
  FROM (SELECT event_type, m, COUNT(*) AS t FROM daily GROUP BY event_type, m)
  WHERE t > 1 GROUP BY event_type
)
SELECT n.event_type, n.n AS n_days, s.s_stat,
       ROUND((n.n * (n.n - 1) * (2 * n.n + 5) - COALESCE(t.tsum, 0)) / 18.0, 6)
         AS var_s,
       ROUND(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                  WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                  ELSE 0 END
             / sqrt((n.n * (n.n - 1) * (2 * n.n + 5) - COALESCE(t.tsum, 0))
                    / 18.0), 6) AS mk_z
FROM nd n JOIN s ON s.event_type = n.event_type
LEFT JOIN ties t ON t.event_type = n.event_type
""",
)
def q310_mann_kendall(spark, sf_dir):
    """MANN-KENDALL TREND TEST per metric series — the nonparametric
    "is there a monotonic trend at all" SIGNIFICANCE test that pairs
    with q295's Theil-Sen slope MAGNITUDE (the two are the standard
    couple in environmental/SRE trend monitoring): S = sum of pairwise
    sign(m_j - m_i), tie-corrected variance, continuity-corrected z.

    Scale discipline: the sign-pair join runs on CALENDAR-BOUNDED
    daily means (the q295 pair table reused with a cheaper payload);
    S and the tie spectrum are exact integers; variance and z are one
    division and one sqrt over integer inputs."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    ).transform(managed_persist)
    b = daily.select(
        "event_type", F.col("day").alias("day2"), F.col("m").alias("m2")
    )
    pairs = (
        daily.join(b, "event_type")
        .where(F.col("day2") > F.col("day"))
        .select(
            "event_type",
            F.when(F.col("m2") > F.col("m"), 1)
            .when(F.col("m2") < F.col("m"), -1)
            .otherwise(0)
            .alias("sgn"),
        )
    )
    s = pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("bigint").alias("s_stat")
    )
    nd = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ties = (
        daily.groupBy("event_type", "m")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tsum")
        )
    )
    n = F.col("n")
    var_s = (n * (n - 1) * (2 * n + 5) - F.coalesce(F.col("tsum"), F.lit(0))) / 18.0
    s_st = F.col("s_stat")
    return (
        nd.join(s, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "s_stat",
            F.round(var_s, 6).alias("var_s"),
            F.round(
                F.when(s_st > 0, s_st - 1)
                .when(s_st < 0, s_st + 1)
                .otherwise(0)
                / F.sqrt(var_s),
                6,
            ).alias("mk_z"),
        )
    )


@query(
    "q313_event_paths",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type AS e1,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
),
paths AS (
  SELECT e1 || '>' || e2 || '>' || e3 AS path
  FROM ordered WHERE e3 IS NOT NULL
),
counts AS (
  SELECT path, CAST(COUNT(*) AS BIGINT) AS n FROM paths GROUP BY path
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
SELECT path, n,
       ROUND(n / CAST((SELECT t FROM tot) AS DOUBLE), 6) AS share,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS INT) AS rk
FROM counts
QUALIFY rk <= 10
""",
)
def q313_event_paths(spark, sf_dir):
    """TOP NAVIGATION PATHS: the most frequent 3-step event-type
    sequences across user streams (the path-discovery pass behind
    funnel DESIGN — q273 measures a funnel you already chose; this
    surfaces which funnels exist — and the 2nd-order extension of
    q262's 1-step Markov matrix).

    Scale discipline: two LEAD windows per user partition (short, even
    sequences), one groupBy whose cardinality is |event_type|^3
    (domain-bounded), share arithmetic over that tiny table."""
    ev = load_table(spark, sf_dir, "events")
    w_ord = W.partitionBy("user_id").orderBy("ts_ns", "event_id")
    ordered = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w_ord).alias("e2"),
        F.lead("event_type", 2).over(w_ord).alias("e3"),
    )
    counts = (
        ordered.where(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .transform(managed_persist)
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("t"))
    top = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "path", "n", F.round(F.col("n") / F.col("t").cast("double"), 6).alias("share")
        )
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )
    return top.select(
        "path",
        "n",
        "share",
        F.row_number()
        .over(W.orderBy(F.col("n").desc(), "path"))
        .cast("int")
        .alias("rk"),
    )


@query(
    "q314_rfm_segmentation",
    oracle="""
WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d0 FROM orders),
cust AS (
  SELECT o_custkey,
         date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                   (SELECT d0 FROM maxd)) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
         NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
         NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_score
  FROM cust
)
SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(monetary AS DECIMAL(16,2))) AS DOUBLE) AS segment_revenue,
       CAST(SUM(frequency) AS BIGINT) AS segment_orders
FROM scored GROUP BY r_score, f_score, m_score
""",
)
def q314_rfm_segmentation(spark, sf_dir):
    """RFM CUSTOMER SEGMENTATION (recency / frequency / monetary
    quintiles — the warehouse-classic behavioral segmentation that
    feeds churn targeting and LTV models; the customer-axis sibling of
    q212's model-score deciles): per-customer R/F/M from the orders
    stream, NTILE(5) scores with deterministic (metric, custkey)
    tie-breaks — higher = better on every axis — and the 125-cell
    segment profile.

    Scale discipline: the order stream reduces once to the customer
    ledger (exact DECIMAL monetary sums); the three NTILE windows rank
    that customer-domain table, and the output is segment-bounded.
    At 100 TB the windows sort customers, not orders — and NTILE's
    rank arithmetic is engine-identical given the pinned total
    ordering."""
    o = load_table(spark, sf_dir, "orders")
    maxd = o.agg(F.max(F.to_date("o_orderdate")).alias("d0"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_d"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff(F.col("d0"), F.col("last_d")).alias("recency_days"),
            "frequency",
            "monetary",
        )
        .transform(managed_persist)
    )
    # NTILE(5) re-expressed as closed-form arithmetic over a DISTRIBUTED
    # row number (VERDICT r6 fix: three unpartitioned NTILE windows sort
    # the whole customer domain in one task; here each axis buckets on a
    # coarsening of its own sort key — bounded day/count/price domains —
    # so every task sorts one bucket).
    from variantcalling_spark.operators.ordered import (
        distributed_row_number,
        ntile_expr,
    )

    ncust = cust.agg(F.count(F.lit(1)).cast("bigint").alias("n_cust"))
    ranked = distributed_row_number(
        cust,
        [F.col("recency_days").desc(), F.col("o_custkey")],
        (-F.col("recency_days")).cast("bigint"),
        out_col="__rn_r",
    )
    ranked = distributed_row_number(
        ranked,
        [F.col("frequency"), F.col("o_custkey")],
        F.col("frequency").cast("bigint"),
        out_col="__rn_f",
    )
    ranked = distributed_row_number(
        ranked,
        [F.col("monetary"), F.col("o_custkey")],
        F.floor(F.col("monetary") / 10000.0).cast("bigint"),
        out_col="__rn_m",
    )
    scored = ranked.crossJoin(F.broadcast(ncust)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        ntile_expr(F.col("__rn_r"), F.col("n_cust"), 5).alias("r_score"),
        ntile_expr(F.col("__rn_f"), F.col("n_cust"), 5).alias("f_score"),
        ntile_expr(F.col("__rn_m"), F.col("n_cust"), 5).alias("m_score"),
    )
    return scored.groupBy(
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.col("monetary").cast("decimal(16,2)"))
        .cast("double")
        .alias("segment_revenue"),
        F.sum("frequency").cast("bigint").alias("segment_orders"),
    )


import math as _math

_VIT_EMIT_MATCH = round(_math.log(0.75) * 1e6)   # -287682
_VIT_EMIT_MISS = round(_math.log(0.25) * 1e6)    # -1386294
_VIT_T_STAY = round(_math.log(0.8) * 1e6)        # -223144
_VIT_T_SWITCH = round(_math.log(0.2) * 1e6)      # -1609438
_VIT_INIT = round(_math.log(0.5) * 1e6)          # -693147


def _viterbi_oracle_sql() -> str:
    em, ex = _VIT_EMIT_MATCH, _VIT_EMIT_MISS
    st, sw, init = _VIT_T_STAY, _VIT_T_SWITCH, _VIT_INIT
    return f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, day
),
med AS MATERIALIZED (
  SELECT event_type, m AS med FROM (
    SELECT event_type, m,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY m) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM daily
  ) WHERE rn = (n + 1) // 2
),
rel AS MATERIALIZED (
  SELECT d.event_type,
         ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) AS t,
         CASE WHEN d.m > x.med THEN 1 ELSE 0 END AS obs
  FROM daily d JOIN med x ON x.event_type = d.event_type
),
walk AS (
  SELECT event_type, t,
         CAST({init} + CASE WHEN obs = 0 THEN {em} ELSE {ex} END AS BIGINT) AS s0,
         CAST({init} + CASE WHEN obs = 1 THEN {em} ELSE {ex} END AS BIGINT) AS s1,
         0 AS b0, 0 AS b1
  FROM rel WHERE t = 1
  UNION ALL
  SELECT r.event_type, r.t,
         CASE WHEN r.obs = 0 THEN {em} ELSE {ex} END
           + GREATEST(w.s0 + {st}, w.s1 + {sw}),
         CASE WHEN r.obs = 1 THEN {em} ELSE {ex} END
           + GREATEST(w.s0 + {sw}, w.s1 + {st}),
         CASE WHEN w.s0 + {st} >= w.s1 + {sw} THEN 0 ELSE 1 END,
         CASE WHEN w.s0 + {sw} >= w.s1 + {st} THEN 0 ELSE 1 END
  FROM walk w JOIN rel r
    ON r.event_type = w.event_type AND r.t = w.t + 1
),
fwd AS MATERIALIZED (SELECT * FROM walk),
fin AS MATERIALIZED (
  SELECT event_type, t AS tmax,
         CASE WHEN s0 >= s1 THEN 0 ELSE 1 END AS state
  FROM fwd f
  WHERE t = (SELECT MAX(t) FROM fwd f2 WHERE f2.event_type = f.event_type)
),
bt AS (
  SELECT event_type, tmax AS t, state FROM fin
  UNION ALL
  SELECT b.event_type, b.t - 1,
         CASE WHEN b.state = 0 THEN f.b0 ELSE f.b1 END
  FROM bt b JOIN fwd f ON f.event_type = b.event_type AND f.t = b.t
  WHERE b.t > 1
),
path AS MATERIALIZED (SELECT event_type, t, state FROM bt),
brk AS (
  SELECT event_type, t, state,
         CASE WHEN LAG(state) OVER (PARTITION BY event_type ORDER BY t) = state
              THEN 0 ELSE 1 END AS b
  FROM path
),
sid AS (
  SELECT event_type, t, state,
         SUM(b) OVER (PARTITION BY event_type ORDER BY t) AS seg
  FROM brk
)
SELECT event_type, CAST(seg AS INT) AS seg_id, CAST(state AS INT) AS state,
       CAST(MIN(t) AS BIGINT) AS t_start, CAST(MAX(t) AS BIGINT) AS t_end,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM sid GROUP BY event_type, seg, state
"""


@query("q315_viterbi_segments", oracle=_viterbi_oracle_sql())
def q315_viterbi_segments(spark, sf_dir):
    """2-STATE HMM VITERBI SEGMENTATION per metric series (the decoder
    at the core of callable-loci/CNV state calling and burst detection
    — where q283's CUSUM finds ONE changepoint, Viterbi finds the
    whole piecewise state path under an explicit noise model):
    high/low observations vs the series median, stay=0.8 /
    emit-correct=0.75 HMM, maximum-a-posteriori state path, emitted as
    gaps-and-islands segments.

    Scale discipline: the DP runs on INTEGER log-weights (x1e6 scaled,
    compile-time literals shared by both engines) over CALENDAR-
    BOUNDED daily observations, sequential per series via
    ``applyInPandas`` (series are independent); the ORACLE replays
    forward scores AND backpointers as one recursive CTE and walks the
    backtrace as a second — every DP cell and every argmax pinned,
    ties breaking LOW on both sides. Segmentation is two windows."""
    from variantcalling_spark.operators.kernels import viterbi_decode_2state

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    ).transform(managed_persist)
    wmed = W.partitionBy("event_type").orderBy("m")
    med = (
        daily.select(
            "event_type",
            "m",
            F.row_number().over(wmed).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("event_type", F.col("m").alias("med"))
    )
    rel = daily.join(F.broadcast(med), "event_type").select(
        F.col("event_type").alias("series"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("t"),
        F.when(F.col("m") > F.col("med"), 1).otherwise(0).alias("obs"),
    )
    path = viterbi_decode_2state(
        rel,
        emit_match=_VIT_EMIT_MATCH,
        emit_miss=_VIT_EMIT_MISS,
        t_stay=_VIT_T_STAY,
        t_switch=_VIT_T_SWITCH,
        init=_VIT_INIT,
    )
    w_ord = W.partitionBy("series").orderBy("t")
    brk = path.select(
        "series",
        "t",
        "state",
        F.when(F.lag("state").over(w_ord) == F.col("state"), 0)
        .otherwise(1)
        .alias("b"),
    )
    sid = brk.select(
        "series",
        "t",
        "state",
        F.sum("b").over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("seg"),
    )
    return sid.groupBy(
        F.col("series").alias("event_type"),
        F.col("seg").cast("int").alias("seg_id"),
        F.col("state").cast("int").alias("state"),
    ).agg(
        F.min("t").cast("bigint").alias("t_start"),
        F.max("t").cast("bigint").alias("t_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )


@query(
    "q316_best_split",
    oracle="""
WITH labeled AS MATERIALIZED (
  SELECT value AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
tot AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM labeled
),
cells AS MATERIALIZED (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(y) AS BIGINT) AS p
  FROM labeled GROUP BY v
),
cum AS (
  SELECT v,
         SUM(c) OVER (ORDER BY v) AS nl,
         SUM(p) OVER (ORDER BY v) AS pl
  FROM cells
),
cand AS (
  SELECT v AS threshold, nl, pl,
         (SELECT n FROM tot) - nl AS nr,
         (SELECT pos FROM tot) - pl AS pr
  FROM cum WHERE nl < (SELECT n FROM tot)
),
scored AS (
  SELECT threshold, nl, pl, nr, pr,
         ROUND(
           (nl * 1.0 / (SELECT n FROM tot))
             * (2.0 * (pl * 1.0 / nl) * (1 - pl * 1.0 / nl))
           + (nr * 1.0 / (SELECT n FROM tot))
             * (2.0 * (pr * 1.0 / nr) * (1 - pr * 1.0 / nr)), 10) AS wgini
  FROM cand
),
base AS (
  SELECT ROUND(2.0 * ((SELECT pos FROM tot) * 1.0 / (SELECT n FROM tot))
               * (1 - (SELECT pos FROM tot) * 1.0 / (SELECT n FROM tot)), 10)
    AS gini0
)
SELECT s.threshold, CAST(s.nl AS BIGINT) AS n_left,
       CAST(s.pl AS BIGINT) AS pos_left,
       CAST(s.nr AS BIGINT) AS n_right, CAST(s.pr AS BIGINT) AS pos_right,
       ROUND((SELECT gini0 FROM base) - s.wgini, 6) AS gini_gain
FROM scored s
ORDER BY s.wgini ASC, s.threshold ASC LIMIT 1
""",
)
def q316_best_split(spark, sf_dir):
    """OPTIMAL 1-D SPLIT (decision stump / supervised binning — the
    CART split-search primitive behind every tree ensemble and the
    principled way to pick a quality-filter threshold, next to q222's
    isotonic calibration): the value threshold minimizing weighted
    Gini impurity for 'is this a purchase event', with the impurity
    gain over the unsplit base.

    Scale discipline: candidate thresholds come from the VALUE-DOMAIN
    histogram (one map-side-combinable aggregate), cumulative
    left-counts from one window over that bounded table — the classic
    sort-once scan-all-splits trick; every count is an exact BIGINT
    and the impurity is arithmetic over two counts, snapped at 10
    before the argmin so the PICK is engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    labeled = ev.select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    cells = labeled.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("y").cast("bigint").alias("p"),
    ).transform(managed_persist)
    tot = cells.agg(
        F.sum("c").cast("bigint").alias("n"), F.sum("p").cast("bigint").alias("pos")
    )
    cum = cells.select(
        "v",
        F.sum("c").over(W.orderBy("v")).alias("nl"),
        F.sum("p").over(W.orderBy("v")).alias("pl"),
    )
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("nl") < F.col("n"))
        .select(
            F.col("v").alias("threshold"),
            "nl",
            "pl",
            (F.col("n") - F.col("nl")).alias("nr"),
            (F.col("pos") - F.col("pl")).alias("pr"),
            "n",
            "pos",
        )
    )
    rl = F.col("pl") * 1.0 / F.col("nl")
    rr = F.col("pr") * 1.0 / F.col("nr")
    wgini = F.round(
        (F.col("nl") * 1.0 / F.col("n")) * (2.0 * rl * (1 - rl))
        + (F.col("nr") * 1.0 / F.col("n")) * (2.0 * rr * (1 - rr)),
        10,
    )
    r0 = F.col("pos") * 1.0 / F.col("n")
    gini0 = F.round(2.0 * r0 * (1 - r0), 10)
    scored = cand.select(
        "threshold",
        F.col("nl").alias("n_left"),
        F.col("pl").alias("pos_left"),
        F.col("nr").alias("n_right"),
        F.col("pr").alias("pos_right"),
        wgini.alias("wgini"),
        gini0.alias("gini0"),
    )
    best = scored.orderBy(F.col("wgini").asc(), F.col("threshold").asc()).limit(1)
    return best.select(
        "threshold",
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
        F.round(F.col("gini0") - F.col("wgini"), 6).alias("gini_gain"),
    )


@query(
    "q317_standardized_rates",
    oracle="""
WITH base AS MATERIALIZED (
  SELECT user_id % 2 AS arm,
         (epoch_ns(ts) // 3600000000000) % 24 AS hod,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
strata AS MATERIALIZED (
  SELECT arm, hod, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS k
  FROM base GROUP BY arm, hod
),
ref AS MATERIALIZED (
  SELECT hod, CAST(SUM(n) AS BIGINT) AS nw FROM strata GROUP BY hod
),
reftot AS MATERIALIZED (SELECT CAST(SUM(nw) AS BIGINT) AS nt FROM ref),
crude AS (
  SELECT arm,
         CAST(SUM(n) AS BIGINT) AS n_obs,
         CAST(SUM(k) AS BIGINT) AS n_events,
         ROUND(SUM(k) / CAST(SUM(n) AS DOUBLE), 6) AS crude_rate
  FROM strata GROUP BY arm
),
std AS (
  SELECT s.arm,
         CAST(SUM(CAST(ROUND(r.nw * (s.k * 1.0 / s.n), 8) AS DECIMAL(20,8)))
              AS DOUBLE) / (SELECT nt FROM reftot) AS std_rate
  FROM strata s JOIN ref r ON r.hod = s.hod
  GROUP BY s.arm
)
SELECT c.arm, c.n_obs, c.n_events, c.crude_rate,
       ROUND(s.std_rate, 6) AS standardized_rate,
       ROUND(s.std_rate - c.crude_rate, 6) AS confounding_gap
FROM crude c JOIN std s ON s.arm = c.arm
""",
)
def q317_standardized_rates(spark, sf_dir):
    """DIRECT RATE STANDARDIZATION (the epidemiology classic applied
    to experiment readouts: re-weight each arm's hour-of-day stratum
    rates by the POOLED traffic mix, so an arm that happens to see
    more night traffic isn't penalized — the confounder-adjustment
    rung between the raw comparison and q265's covariate CUPED):
    crude vs standardized purchase rate per arm and the confounding
    gap.

    Scale discipline: one pass to (arm x 24-stratum) counts, the
    reference weights from the same table; the standardized rate is a
    24-term sum of rounded stratum terms via DECIMAL — everything
    after the first aggregate is domain-bounded arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        (F.col("user_id") % 2).alias("arm"),
        (F.expr("ts_ns DIV 3600000000000") % 24).alias("hod"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    strata = base.groupBy("arm", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("k"),
    ).transform(managed_persist)
    ref = strata.groupBy("hod").agg(F.sum("n").cast("bigint").alias("nw"))
    reftot = ref.agg(F.sum("nw").cast("bigint").alias("nt"))
    crude = strata.groupBy("arm").agg(
        F.sum("n").cast("bigint").alias("n_obs"),
        F.sum("k").cast("bigint").alias("n_events"),
        F.round(F.sum("k") / F.sum("n").cast("double"), 6).alias("crude_rate"),
    )
    std = (
        strata.join(F.broadcast(ref), "hod")
        .select(
            "arm",
            F.round(F.col("nw") * (F.col("k") * 1.0 / F.col("n")), 8)
            .cast("decimal(20,8)")
            .alias("term"),
        )
        .groupBy("arm")
        .agg(F.sum("term").cast("double").alias("s"))
        .crossJoin(F.broadcast(reftot))
        .select("arm", (F.col("s") / F.col("nt")).alias("std_rate"))
    )
    return crude.join(std, "arm").select(
        "arm",
        "n_obs",
        "n_events",
        "crude_rate",
        F.round(F.col("std_rate"), 6).alias("standardized_rate"),
        F.round(F.col("std_rate") - F.col("crude_rate"), 6).alias(
            "confounding_gap"
        ),
    )


@query(
    "q318_exponential_gof",
    oracle="""
WITH deltas AS MATERIALIZED (
  SELECT event_type,
         (epoch_ns(ts)
          - LAG(epoch_ns(ts)) OVER (PARTITION BY event_type
                                    ORDER BY epoch_ns(ts), event_id))
           / 1000000000.0 AS dt
  FROM events
),
d AS MATERIALIZED (
  SELECT event_type, dt FROM deltas WHERE dt IS NOT NULL AND dt > 0
),
fit AS MATERIALIZED (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(COUNT(*) / CAST(SUM(CAST(ROUND(dt, 3) AS DECIMAL(18,3)))
                               AS DOUBLE), 10) AS lambda
  FROM d GROUP BY event_type
),
ranked AS (
  SELECT d.event_type, d.dt, f.n, f.lambda,
         ROW_NUMBER() OVER (PARTITION BY d.event_type
                            ORDER BY d.dt, d.dt) AS rn
  FROM d JOIN fit f ON f.event_type = d.event_type
),
ks AS (
  SELECT event_type, n, lambda,
         MAX(GREATEST(
           ABS(rn * 1.0 / n - (1 - exp(-lambda * dt))),
           ABS((rn - 1) * 1.0 / n - (1 - exp(-lambda * dt)))
         )) AS ks_stat
  FROM ranked GROUP BY event_type, n, lambda
)
SELECT event_type, n, ROUND(lambda, 8) AS lambda_per_sec,
       ROUND(1.0 / lambda, 4) AS mean_gap_sec,
       ROUND(ks_stat, 6) AS ks_stat,
       ROUND(ks_stat * sqrt(CAST(n AS DOUBLE)), 4) AS ks_scaled
FROM ks
""",
)
def q318_exponential_gof(spark, sf_dir):
    """EXPONENTIAL GOODNESS-OF-FIT for inter-arrival times per event
    series (is the stream Poisson? — the bot/burst screen behind
    rate-limit tuning and the parametric ONE-sample complement of
    q171's two-sample KS): MLE lambda = n / sum(dt), then the exact
    one-sample KS distance between the empirical CDF and
    1 - exp(-lambda*t), with the sqrt(n)-scaled statistic.

    Scale discipline: inter-arrivals from one LAG window per series;
    lambda from an exact DECIMAL sum of millisecond-snapped gaps; the
    KS sup runs as a rank window + one aggregate (both CDF envelopes
    checked — the sup can land on either side of a step). exp() is
    the shared-libm transcendental the oracle family already pins."""
    ev = load_table(spark, sf_dir, "events")
    w_ord = W.partitionBy("event_type").orderBy("ts_ns", "event_id")
    deltas = ev.select(
        "event_type",
        ((F.col("ts_ns") - F.lag("ts_ns").over(w_ord)) / 1000000000.0).alias("dt"),
    )
    d = deltas.where(F.col("dt").isNotNull() & (F.col("dt") > 0)).transform(
        managed_persist
    )
    fit = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.count(F.lit(1))
            / F.sum(F.round(F.col("dt"), 3).cast("decimal(18,3)")).cast("double"),
            10,
        ).alias("lambda"),
    )
    ranked = d.join(F.broadcast(fit), "event_type").select(
        "event_type",
        "dt",
        "n",
        "lambda",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("dt", "dt"))
        .alias("rn"),
    )
    cdf = 1 - F.exp(-F.col("lambda") * F.col("dt"))
    ks = ranked.groupBy("event_type", "n", "lambda").agg(
        F.max(
            F.greatest(
                F.abs(F.col("rn") * 1.0 / F.col("n") - cdf),
                F.abs((F.col("rn") - 1) * 1.0 / F.col("n") - cdf),
            )
        ).alias("ks_stat")
    )
    return ks.select(
        "event_type",
        "n",
        F.round(F.col("lambda"), 8).alias("lambda_per_sec"),
        F.round(1.0 / F.col("lambda"), 4).alias("mean_gap_sec"),
        F.round(F.col("ks_stat"), 6).alias("ks_stat"),
        F.round(F.col("ks_stat") * F.sqrt(F.col("n").cast("double")), 4).alias(
            "ks_scaled"
        ),
    )


_HMM_STAY = 0.8
_HMM_EMIT = 0.75


def _hmm_fb_oracle_sql(select: str) -> str:
    st = f"CAST({_HMM_STAY!r} AS DOUBLE)"
    sw = f"CAST({1.0 - _HMM_STAY!r} AS DOUBLE)"
    em = f"CAST({_HMM_EMIT!r} AS DOUBLE)"
    ms = f"CAST({1.0 - _HMM_EMIT!r} AS DOUBLE)"
    e0 = f"CASE WHEN r.obs = 0 THEN {em} ELSE {ms} END"
    e1 = f"CASE WHEN r.obs = 1 THEN {em} ELSE {ms} END"
    f_a0 = f"({e0}) * (w.a0 * {st} + w.a1 * {sw})"
    f_a1 = f"({e1}) * (w.a0 * {sw} + w.a1 * {st})"
    b_b0 = f"{st} * ({e0}) * w.b0 + {sw} * ({e1}) * w.b1"
    b_b1 = f"{sw} * ({e0}) * w.b0 + {st} * ({e1}) * w.b1"
    return f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, day
),
med AS MATERIALIZED (
  SELECT event_type, m AS med FROM (
    SELECT event_type, m,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY m) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM daily
  ) WHERE rn = (n + 1) // 2
),
rel AS MATERIALIZED (
  SELECT d.event_type,
         ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) AS t,
         CASE WHEN d.m > x.med THEN 1 ELSE 0 END AS obs
  FROM daily d JOIN med x ON x.event_type = d.event_type
),
nmax AS MATERIALIZED (
  SELECT event_type, MAX(t) AS tmax FROM rel GROUP BY event_type
),
fw AS (
  SELECT r.event_type, r.t,
         (CAST(0.5 AS DOUBLE) * ({e0}))
           / (CAST(0.5 AS DOUBLE) * ({e0}) + CAST(0.5 AS DOUBLE) * ({e1})) AS a0,
         (CAST(0.5 AS DOUBLE) * ({e1}))
           / (CAST(0.5 AS DOUBLE) * ({e0}) + CAST(0.5 AS DOUBLE) * ({e1})) AS a1
  FROM rel r WHERE r.t = 1
  UNION ALL
  SELECT r.event_type, r.t,
         ({f_a0}) / (({f_a0}) + ({f_a1})),
         ({f_a1}) / (({f_a0}) + ({f_a1}))
  FROM fw w JOIN rel r ON r.event_type = w.event_type AND r.t = w.t + 1
),
fwd AS MATERIALIZED (SELECT * FROM fw),
bw AS (
  SELECT event_type, tmax AS t,
         CAST(0.5 AS DOUBLE) AS b0, CAST(0.5 AS DOUBLE) AS b1
  FROM nmax
  UNION ALL
  SELECT w.event_type, w.t - 1,
         ({b_b0}) / (({b_b0}) + ({b_b1})),
         ({b_b1}) / (({b_b0}) + ({b_b1}))
  FROM bw w JOIN rel r ON r.event_type = w.event_type AND r.t = w.t
  WHERE w.t > 1
),
bwd AS MATERIALIZED (SELECT * FROM bw)
{select}
"""


_HMM_POST_SELECT = """
SELECT r.event_type, CAST(r.t AS BIGINT) AS t, CAST(r.obs AS INT) AS obs,
       ROUND((f.a1 * b.b1) / ((f.a0 * b.b0) + (f.a1 * b.b1)), 6) AS p_high
FROM rel r
JOIN fwd f ON f.event_type = r.event_type AND f.t = r.t
JOIN bwd b ON b.event_type = r.event_type AND b.t = r.t
"""


@query("q319_hmm_posterior", oracle=_hmm_fb_oracle_sql(_HMM_POST_SELECT))
def q319_hmm_posterior(spark, sf_dir):
    """HMM FORWARD-BACKWARD POSTERIOR DECODING per series — the
    smoothing counterpart of q315's Viterbi: instead of the single
    best path, P(state = HIGH | the WHOLE series) at every
    observation (the quantity real callers threshold and the E-step
    of Baum-Welch). Same symmetric 2-state model (stay 0.8, emit
    0.75).

    Scale discipline: per-series sequential forward and backward
    scans over CALENDAR-BOUNDED observations via ``applyInPandas``;
    per-step normalization keeps the recursion in [0,1] with NO
    intermediate rounding — the oracle's two recursive CTEs replay
    the IDENTICAL multiply/add/divide shapes (derived literals
    injected as computed Python doubles), so alpha-hat, beta-hat and
    the posterior are bit-equal before the single output round. The
    q302 discipline extended to a two-pass recursion."""
    from variantcalling_spark.operators.kernels import hmm_posterior_2state

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    ).transform(managed_persist)
    wmed = W.partitionBy("event_type").orderBy("m")
    med = (
        daily.select(
            "event_type",
            "m",
            F.row_number().over(wmed).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("event_type", F.col("m").alias("med"))
    )
    rel = daily.join(F.broadcast(med), "event_type").select(
        F.col("event_type").alias("series"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("t"),
        F.when(F.col("m") > F.col("med"), 1).otherwise(0).alias("obs"),
    )
    post = hmm_posterior_2state(rel, p_stay=_HMM_STAY, p_emit=_HMM_EMIT)
    g0 = F.col("a0") * F.col("b0")
    g1 = F.col("a1") * F.col("b1")
    return post.select(
        F.col("series").alias("event_type"),
        "t",
        F.col("obs").cast("int").alias("obs"),
        F.round(g1 / (g0 + g1), 6).alias("p_high"),
    )


def _bw_step_select() -> str:
    st = f"CAST({_HMM_STAY!r} AS DOUBLE)"
    sw = f"CAST({1.0 - _HMM_STAY!r} AS DOUBLE)"
    em = f"CAST({_HMM_EMIT!r} AS DOUBLE)"
    ms = f"CAST({1.0 - _HMM_EMIT!r} AS DOUBLE)"
    e0n = f"CASE WHEN r2.obs = 0 THEN {em} ELSE {ms} END"
    e1n = f"CASE WHEN r2.obs = 1 THEN {em} ELSE {ms} END"
    x00 = f"f.a0 * {st} * ({e0n}) * b2.b0"
    x01 = f"f.a0 * {sw} * ({e1n}) * b2.b1"
    x10 = f"f.a1 * {sw} * ({e0n}) * b2.b0"
    x11 = f"f.a1 * {st} * ({e1n}) * b2.b1"
    return f""",
xi AS MATERIALIZED (
  SELECT f.event_type, f.t,
         ROUND((({x00}) + ({x11}))
               / (({x00}) + ({x01}) + ({x10}) + ({x11})), 10) AS stay_frac
  FROM fwd f
  JOIN rel r2 ON r2.event_type = f.event_type AND r2.t = f.t + 1
  JOIN bwd b2 ON b2.event_type = f.event_type AND b2.t = f.t + 1
),
gam AS MATERIALIZED (
  SELECT r.event_type, r.t, r.obs,
         ROUND((f.a0 * b.b0) / ((f.a0 * b.b0) + (f.a1 * b.b1)), 10) AS g0,
         ROUND((f.a1 * b.b1) / ((f.a0 * b.b0) + (f.a1 * b.b1)), 10) AS g1
  FROM rel r
  JOIN fwd f ON f.event_type = r.event_type AND f.t = r.t
  JOIN bwd b ON b.event_type = r.event_type AND b.t = r.t
),
msums AS (
  SELECT
    (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM gam) AS n_series,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM gam) AS n_obs,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM xi) AS n_transitions,
    (SELECT CAST(SUM(CAST(stay_frac AS DECIMAL(20,10))) AS DOUBLE) FROM xi)
      AS stay_sum,
    (SELECT CAST(SUM(CAST(CASE WHEN obs = 0 THEN g0 ELSE g1 END
                          AS DECIMAL(20,10))) AS DOUBLE) FROM gam)
      AS emit_match_sum,
    (SELECT CAST(SUM(CAST(CASE WHEN t = 1 THEN g1 ELSE 0 END
                          AS DECIMAL(20,10))) AS DOUBLE) FROM gam)
      AS pi1_sum
)
SELECT n_series, n_obs, n_transitions,
       ROUND(stay_sum / n_transitions, 6) AS p_stay_new,
       ROUND(emit_match_sum / n_obs, 6) AS p_emit_new,
       ROUND(pi1_sum / n_series, 6) AS pi_high_new
FROM msums
"""


@query("q323_baum_welch_step", oracle=_hmm_fb_oracle_sql(_bw_step_select()))
def q323_baum_welch_step(spark, sf_dir):
    """ONE BAUM-WELCH (EM) UPDATE of the HMM parameters, pooled across
    series — completes the HMM trilogy: q315 decodes (Viterbi), q319
    smooths (posterior), q323 LEARNS: expected stay-transitions from
    the xi pair-posteriors, expected emission matches from the gammas,
    and the updated p_stay / p_emit / initial-high estimates a second
    EM round would consume.

    Scale discipline: the sequential part stays inside the q319 kernel
    (per-series forward-backward); xi and gamma are pure JOINS of the
    emitted alpha/beta state at (t, t+1) with arithmetic identical on
    both engines, and the M-step is three DECIMAL sums over 10-dp
    snapped fractions. Nothing iterates outside the kernel — a full
    Baum-Welch loop is this query applied k times."""
    from variantcalling_spark.operators.kernels import hmm_posterior_2state

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    ).transform(managed_persist)
    wmed = W.partitionBy("event_type").orderBy("m")
    med = (
        daily.select(
            "event_type",
            "m",
            F.row_number().over(wmed).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("event_type", F.col("m").alias("med"))
    )
    rel = daily.join(F.broadcast(med), "event_type").select(
        F.col("event_type").alias("series"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("t"),
        F.when(F.col("m") > F.col("med"), 1).otherwise(0).alias("obs"),
    )
    fb = hmm_posterior_2state(rel, p_stay=_HMM_STAY, p_emit=_HMM_EMIT).transform(
        managed_persist
    )
    st, sw = F.lit(_HMM_STAY), F.lit(1.0 - _HMM_STAY)
    em, ms = F.lit(_HMM_EMIT), F.lit(1.0 - _HMM_EMIT)
    nxt = fb.select(
        "series",
        (F.col("t") - 1).alias("t"),
        F.col("obs").alias("obs2"),
        F.col("b0").alias("nb0"),
        F.col("b1").alias("nb1"),
    )
    e0n = F.when(F.col("obs2") == 0, em).otherwise(ms)
    e1n = F.when(F.col("obs2") == 1, em).otherwise(ms)
    x00 = F.col("a0") * st * e0n * F.col("nb0")
    x01 = F.col("a0") * sw * e1n * F.col("nb1")
    x10 = F.col("a1") * sw * e0n * F.col("nb0")
    x11 = F.col("a1") * st * e1n * F.col("nb1")
    xi = fb.join(nxt, ["series", "t"]).select(
        "series",
        F.round((x00 + x11) / (x00 + x01 + x10 + x11), 10).alias("stay_frac"),
    )
    g0 = F.col("a0") * F.col("b0")
    g1 = F.col("a1") * F.col("b1")
    gam = fb.select(
        "series",
        "t",
        "obs",
        F.round(g0 / (g0 + g1), 10).alias("g0"),
        F.round(g1 / (g0 + g1), 10).alias("g1"),
    ).transform(managed_persist)
    n_series = gam.select("series").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_series")
    )
    n_obs = gam.agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    xi_agg = xi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.sum(F.col("stay_frac").cast("decimal(20,10)"))
        .cast("double")
        .alias("stay_sum"),
    )
    gam_agg = gam.agg(
        F.sum(
            F.when(F.col("obs") == 0, F.col("g0"))
            .otherwise(F.col("g1"))
            .cast("decimal(20,10)")
        )
        .cast("double")
        .alias("emit_match_sum"),
        F.sum(
            F.when(F.col("t") == 1, F.col("g1")).otherwise(F.lit(0.0)).cast(
                "decimal(20,10)"
            )
        )
        .cast("double")
        .alias("pi1_sum"),
    )
    return (
        n_series.crossJoin(F.broadcast(n_obs))
        .crossJoin(F.broadcast(xi_agg))
        .crossJoin(F.broadcast(gam_agg))
        .select(
            "n_series",
            "n_obs",
            "n_transitions",
            F.round(F.col("stay_sum") / F.col("n_transitions"), 6).alias(
                "p_stay_new"
            ),
            F.round(F.col("emit_match_sum") / F.col("n_obs"), 6).alias(
                "p_emit_new"
            ),
            F.round(F.col("pi1_sum") / F.col("n_series"), 6).alias("pi_high_new"),
        )
    )


@query(
    "q329_effect_sizes",
    oracle="""
WITH s AS MATERIALIZED (
  SELECT event_type,
         CASE WHEN ((epoch_ns(ts) // 86400000000000) + 3) % 7 >= 5
              THEN 1 ELSE 0 END AS wkend,
         value AS v
  FROM events
),
rk AS (
  SELECT event_type, wkend,
         RANK() OVER (PARTITION BY event_type ORDER BY v) AS rmin,
         COUNT(*) OVER (PARTITION BY event_type, v) AS tc
  FROM s
),
ranksum AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN wkend = 1 THEN 2 * rmin + tc - 1 ELSE 0 END)
              AS BIGINT) AS two_r1
  FROM rk GROUP BY event_type
),
stats AS (
  SELECT event_type, wkend,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(CAST(SUM(CAST(v AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6)
           AS mean,
         ROUND((CAST(SUM(CAST(v AS DECIMAL(12,2)) * CAST(v AS DECIMAL(12,2)))
                     AS DOUBLE)
                - COUNT(*) * ROUND(CAST(SUM(CAST(v AS DECIMAL(12,2)))
                                        AS DOUBLE) / COUNT(*), 6)
                           * ROUND(CAST(SUM(CAST(v AS DECIMAL(12,2)))
                                        AS DOUBLE) / COUNT(*), 6))
               / (COUNT(*) - 1), 6) AS var
  FROM s GROUP BY event_type, wkend
),
wide AS (
  SELECT a.event_type,
         a.n AS n1, a.mean AS m1, a.var AS v1,
         b.n AS n2, b.mean AS m2, b.var AS v2
  FROM stats a JOIN stats b
    ON b.event_type = a.event_type AND a.wkend = 1 AND b.wkend = 0
)
SELECT w.event_type, w.n1 AS n_weekend, w.n2 AS n_weekday,
       ROUND((w.m1 - w.m2)
             / sqrt(((w.n1 - 1) * w.v1 + (w.n2 - 1) * w.v2)
                    / (w.n1 + w.n2 - 2)), 6) AS cohens_d,
       ROUND(((w.m1 - w.m2)
              / sqrt(((w.n1 - 1) * w.v1 + (w.n2 - 1) * w.v2)
                     / (w.n1 + w.n2 - 2)))
             * (1 - 3.0 / (4 * (w.n1 + w.n2) - 9)), 6) AS hedges_g,
       ROUND((r.two_r1 / 2.0 - w.n1 * (w.n1 + 1) / 2.0)
             / (CAST(w.n1 AS DOUBLE) * w.n2) * 2 - 1, 6) AS cliffs_delta
FROM wide w JOIN ranksum r ON r.event_type = w.event_type
""",
)
def q329_effect_sizes(spark, sf_dir):
    """EFFECT SIZES, weekend vs weekday per series — the MAGNITUDE
    companion every q293 significance test is supposed to ship with
    (reporting guidelines: a z-score without an effect size is
    uninterpretable at scale, where everything is 'significant'):
    Cohen's d (pooled SD), Hedges' g (small-sample bias correction),
    and Cliff's delta — derived EXACTLY from q293's integer rank-sum
    machinery via delta = 2U/(n1 n2) - 1, no second pass over pairs.

    Scale discipline: the same one-pass sufficient statistics and the
    same rank window as q293; everything downstream is closed-form
    arithmetic over snapped inputs."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.when(
            (F.expr("ts_ns DIV 86400000000000") + 3) % 7 >= 5, 1
        ).otherwise(0).alias("wkend"),
        F.col("value").alias("v"),
    ).transform(managed_persist)
    rk = s.select(
        "event_type",
        "wkend",
        F.rank().over(W.partitionBy("event_type").orderBy("v")).alias("rmin"),
        F.count(F.lit(1)).over(W.partitionBy("event_type", "v")).alias("tc"),
    )
    ranksum = rk.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("wkend") == 1, 2 * F.col("rmin") + F.col("tc") - 1).otherwise(0)
        )
        .cast("bigint")
        .alias("two_r1")
    )
    dv = dec("v")
    mean_expr = F.round(F.sum(dv).cast("double") / F.count(F.lit(1)), 6)
    stats = s.groupBy("event_type", "wkend").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        mean_expr.alias("mean"),
        F.round(
            (
                F.sum(dv * dv).cast("double")
                - F.count(F.lit(1)) * mean_expr * mean_expr
            )
            / (F.count(F.lit(1)) - 1),
            6,
        ).alias("var"),
    )
    a = stats.where(F.col("wkend") == 1).select(
        "event_type",
        F.col("n").alias("n1"),
        F.col("mean").alias("m1"),
        F.col("var").alias("v1"),
    )
    b = stats.where(F.col("wkend") == 0).select(
        "event_type",
        F.col("n").alias("n2"),
        F.col("mean").alias("m2"),
        F.col("var").alias("v2"),
    )
    wide = a.join(b, "event_type")
    n1, n2 = F.col("n1"), F.col("n2")
    pooled_sd = F.sqrt(
        ((n1 - 1) * F.col("v1") + (n2 - 1) * F.col("v2")) / (n1 + n2 - 2)
    )
    d = (F.col("m1") - F.col("m2")) / pooled_sd
    u1 = F.col("two_r1") / 2.0 - n1 * (n1 + 1) / 2.0
    return wide.join(ranksum, "event_type").select(
        "event_type",
        n1.alias("n_weekend"),
        n2.alias("n_weekday"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6).alias("hedges_g"),
        F.round(u1 / (n1.cast("double") * n2) * 2 - 1, 6).alias("cliffs_delta"),
    )


def _conformal_oracle_sql() -> str:
    from variantcalling_spark.operators.dedup import PORTABLE_HASH_SQL

    ph = PORTABLE_HASH_SQL.format(col="CAST(event_id AS VARCHAR)")
    return f"""
WITH labeled AS MATERIALIZED (
  SELECT event_type, value AS v, ({ph}) % 3 AS fold FROM events
),
trainmean AS MATERIALIZED (
  SELECT event_type,
         ROUND(CAST(SUM(CAST(v AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6)
           AS mu
  FROM labeled WHERE fold = 0 GROUP BY event_type
),
cal AS MATERIALIZED (
  SELECT l.event_type, ROUND(ABS(l.v - t.mu), 6) AS s
  FROM labeled l JOIN trainmean t ON t.event_type = l.event_type
  WHERE l.fold = 1
),
calrk AS (
  SELECT event_type, s,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY s, s) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_cal
  FROM cal
),
qhat AS MATERIALIZED (
  SELECT event_type, CAST(n_cal AS BIGINT) AS n_cal, s AS q_hat
  FROM calrk
  WHERE rn = CAST(CEIL(0.9 * (n_cal + 1)) AS BIGINT)
),
test AS (
  SELECT l.event_type,
         CASE WHEN ROUND(ABS(l.v - t.mu), 6) <= q.q_hat THEN 1 ELSE 0 END AS hit
  FROM labeled l
  JOIN trainmean t ON t.event_type = l.event_type
  JOIN qhat q ON q.event_type = l.event_type
  WHERE l.fold = 2
)
SELECT te.event_type, q.n_cal,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       q.q_hat,
       ROUND(SUM(hit) / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
FROM test te JOIN qhat q ON q.event_type = te.event_type
GROUP BY te.event_type, q.n_cal, q.q_hat
"""


@query("q331_conformal_interval", oracle=_conformal_oracle_sql())
def q331_conformal_interval(spark, sf_dir):
    """SPLIT CONFORMAL PREDICTION INTERVALS (the distribution-free
    coverage guarantee modern ML serving wraps around ANY point
    predictor — here the per-series train-fold mean): calibration
    scores |y - y_hat| on a held-out fold, q_hat = the
    ceil(0.9(n+1))-th smallest score (the finite-sample corrected
    quantile), and the MEASURED coverage on a third fold — the
    guarantee made an executable number, beside q208's parametric
    Wilson bands and q246's bootstrap CIs.

    Scale discipline: folds are md5-deterministic (no RNG state);
    the predictor and scores are one aggregate + one join; q_hat is
    a rank-pick (the q220 convention) per series; coverage is one
    conditional aggregate. Everything after the scan is
    series-domain-bounded except the two linear score passes."""
    from variantcalling_spark.operators.dedup import portable_string_hash

    ev = load_table(spark, sf_dir, "events")
    labeled = ev.select(
        "event_type",
        F.col("value").alias("v"),
        (portable_string_hash(F.col("event_id").cast("string")) % 3).alias("fold"),
    ).transform(managed_persist)
    trainmean = (
        labeled.where(F.col("fold") == 0)
        .groupBy("event_type")
        .agg(
            F.round(F.sum(dec("v")).cast("double") / F.count(F.lit(1)), 6).alias(
                "mu"
            )
        )
    )
    cal = (
        labeled.where(F.col("fold") == 1)
        .join(F.broadcast(trainmean), "event_type")
        .select(
            "event_type", F.round(F.abs(F.col("v") - F.col("mu")), 6).alias("s")
        )
    )
    wcal = W.partitionBy("event_type").orderBy("s", "s")
    calrk = cal.select(
        "event_type",
        "s",
        F.row_number().over(wcal).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n_cal"),
    )
    qhat = calrk.where(
        F.col("rn") == F.ceil(0.9 * (F.col("n_cal") + 1)).cast("bigint")
    ).select(
        "event_type",
        F.col("n_cal").cast("bigint").alias("n_cal"),
        F.col("s").alias("q_hat"),
    )
    test = (
        labeled.where(F.col("fold") == 2)
        .join(F.broadcast(trainmean), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .select(
            "event_type",
            "n_cal",
            "q_hat",
            F.when(
                F.round(F.abs(F.col("v") - F.col("mu")), 6) <= F.col("q_hat"), 1
            )
            .otherwise(0)
            .alias("hit"),
        )
    )
    return test.groupBy("event_type", "n_cal", "q_hat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.round(F.sum("hit") / F.count(F.lit(1)).cast("double"), 6).alias(
            "coverage"
        ),
    ).select("event_type", "n_cal", "n_test", "q_hat", "coverage")


_HILL_K = 100


@query(
    "q332_hill_tail_index",
    oracle=f"""
WITH ranked AS (
  SELECT event_type, value AS v,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rn
  FROM events WHERE value > 0
),
kth AS MATERIALIZED (
  SELECT event_type, v AS xk FROM ranked WHERE rn = {_HILL_K} + 1
),
topk AS (
  SELECT r.event_type,
         ROUND(ln(r.v / k.xk), 10) AS lr
  FROM ranked r JOIN kth k ON k.event_type = r.event_type
  WHERE r.rn <= {_HILL_K}
)
SELECT t.event_type,
       CAST({_HILL_K} AS BIGINT) AS k,
       k.xk AS threshold,
       ROUND({_HILL_K} / CAST(SUM(CAST(t.lr AS DECIMAL(16,10))) AS DOUBLE), 6)
         AS hill_alpha,
       ROUND(CAST(SUM(CAST(t.lr AS DECIMAL(16,10))) AS DOUBLE) / {_HILL_K}, 6)
         AS mean_log_excess
FROM topk t JOIN kth k ON k.event_type = t.event_type
GROUP BY t.event_type, k.xk
""",
)
def q332_hill_tail_index(spark, sf_dir):
    """HILL TAIL-INDEX ESTIMATOR per metric series (the heavy-tail
    exponent: alpha = k / sum ln(x_(i)/x_(k+1)) over the top-k order
    statistics — the number that says whether p99 planning can trust
    means at all; the continuous-tail complement of q177's Zipf fit
    and q195's Pareto concentration): alpha, the tail threshold, and
    the mean log-excess.

    Scale discipline: one descending rank window per series with a
    deterministic event-id tie-break, top-k+1 rows kept; the estimator
    is a k-term DECIMAL sum of 10-dp ln ratios — at any corpus size
    the state past the window is k rows per series."""
    ev = load_table(spark, sf_dir, "events")
    ranked = ev.where(F.col("value") > 0).select(
        "event_type",
        F.col("value").alias("v"),
        F.row_number()
        .over(
            W.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
        )
        .alias("rn"),
    ).transform(managed_persist)
    kth = ranked.where(F.col("rn") == _HILL_K + 1).select(
        "event_type", F.col("v").alias("xk")
    )
    topk = (
        ranked.where(F.col("rn") <= _HILL_K)
        .join(F.broadcast(kth), "event_type")
        .select(
            "event_type",
            "xk",
            F.round(F.log(F.col("v") / F.col("xk")), 10).alias("lr"),
        )
    )
    return topk.groupBy("event_type", "xk").agg(
        F.lit(_HILL_K).cast("bigint").alias("k"),
        F.round(
            F.lit(_HILL_K)
            / F.sum(F.col("lr").cast("decimal(16,10)")).cast("double"),
            6,
        ).alias("hill_alpha"),
        F.round(
            F.sum(F.col("lr").cast("decimal(16,10)")).cast("double") / _HILL_K, 6
        ).alias("mean_log_excess"),
    ).select(
        "event_type",
        "k",
        F.col("xk").alias("threshold"),
        "hill_alpha",
        "mean_log_excess",
    )


def _shapley_oracle_sql() -> str:
    # v(S) per grouping-set from ONE CUBE pass; gid bit 0 = feature grouped
    v = "ROUND((ssb - s * s / CAST(n AS DOUBLE)) / (s - s * s / CAST(n AS DOUBLE)), 8)"
    return f"""
WITH med AS MATERIALIZED (
  SELECT v AS median FROM (
    SELECT value AS v,
           ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn,
           COUNT(*) OVER () AS n
    FROM events
  ) WHERE rn = (n + 1) // 2
),
base AS MATERIALIZED (
  SELECT CASE WHEN ((epoch_ns(ts) // 86400000000000) + 3) % 7 >= 5
              THEN 1 ELSE 0 END AS f_weekend,
         CASE WHEN (epoch_ns(ts) // 3600000000000) % 24 < 6
              THEN 1 ELSE 0 END AS f_night,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END
           AS f_conversion,
         CASE WHEN value > (SELECT median FROM med) THEN 1 ELSE 0 END AS y
  FROM events
),
tot AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s FROM base
),
cube_cells AS MATERIALIZED (
  SELECT GROUPING(f_weekend) * 4 + GROUPING(f_night) * 2
           + GROUPING(f_conversion) AS gid,
         CAST(COUNT(*) AS BIGINT) AS n_c,
         CAST(SUM(y) AS BIGINT) AS s_c
  FROM base
  GROUP BY CUBE (f_weekend, f_night, f_conversion)
),
vs AS MATERIALIZED (
  SELECT c.gid,
         CAST(SUM(CAST(ROUND(c.s_c * c.s_c / CAST(c.n_c AS DOUBLE), 8)
                       AS DECIMAL(24,8))) AS DOUBLE) AS ssb
  FROM cube_cells c GROUP BY c.gid
),
vrow AS MATERIALIZED (
  SELECT
    MAX(CASE WHEN gid = 7 THEN vv END) AS v_none,
    MAX(CASE WHEN gid = 3 THEN vv END) AS v_w,
    MAX(CASE WHEN gid = 5 THEN vv END) AS v_n,
    MAX(CASE WHEN gid = 6 THEN vv END) AS v_c,
    MAX(CASE WHEN gid = 1 THEN vv END) AS v_wn,
    MAX(CASE WHEN gid = 2 THEN vv END) AS v_wc,
    MAX(CASE WHEN gid = 4 THEN vv END) AS v_nc,
    MAX(CASE WHEN gid = 0 THEN vv END) AS v_wnc
  FROM (
    SELECT gid, {v} AS vv
    FROM vs CROSS JOIN tot
  )
)
SELECT feature, v_alone, shapley_phi, v_full FROM (
  SELECT 'weekend' AS feature, v_w AS v_alone,
         ROUND((2 * (v_w - v_none) + (v_wn - v_n) + (v_wc - v_c)
                + 2 * (v_wnc - v_nc)) / 6.0, 6) AS shapley_phi,
         ROUND(v_wnc, 6) AS v_full
  FROM vrow
  UNION ALL
  SELECT 'night', v_n,
         ROUND((2 * (v_n - v_none) + (v_wn - v_w) + (v_nc - v_c)
                + 2 * (v_wnc - v_wc)) / 6.0, 6),
         ROUND(v_wnc, 6)
  FROM vrow
  UNION ALL
  SELECT 'conversion', v_c,
         ROUND((2 * (v_c - v_none) + (v_wc - v_w) + (v_nc - v_n)
                + 2 * (v_wnc - v_wn)) / 6.0, 6),
         ROUND(v_wnc, 6)
  FROM vrow
)
"""


@query("q333_shapley_importance", oracle=_shapley_oracle_sql())
def q333_shapley_importance(spark, sf_dir):
    """EXACT SHAPLEY FEATURE IMPORTANCE over three binary features
    (weekend / night / conversion-type) for 'is this a high-value
    event' — the explainability slot, computed EXACTLY (all 2^3
    coalitions, no sampling): the characteristic function v(S) is the
    variance explained (eta^2) of the label by grouping on S, so each
    coalition is a grouped aggregate, and ONE CUBE pass delivers all
    eight. Efficiency holds by construction: the three phis sum to
    v(full) - v(empty) = v(full), since v(empty) = 0.

    Scale discipline: the whole game is ONE cube aggregate over the
    corpus (8 grouping sets, map-side-combinable, <= 27 cells) plus
    arithmetic over an 8-value row; the explicit GROUPING-bit mask is
    computed identically on both engines rather than trusting
    grouping_id bit order. Per-cell terms snap at 8 into DECIMAL
    sums."""
    from variantcalling_spark.operators.ordered import value_at_rank_bucketed

    ev = load_table(spark, sf_dir, "events")
    # lower-median WITHOUT a corpus-wide single-partition Window
    # (VERDICT r6 fix: the rank tie-break never changes the VALUE at the
    # rank, so a bucketed distinct-value CDF is exact): bucket counts ->
    # tiny prefix -> crossing-bucket-only rescan.
    k = ev.agg(
        ((F.count(F.lit(1)) + 1) / 2).cast("bigint").alias("k")
    )
    med = value_at_rank_bucketed(
        ev.select("value"), "value", k, rank_col="k", bucket_width=16.0
    ).select(F.col("value_at_rank").alias("median"))
    base = ev.crossJoin(F.broadcast(med)).select(
        F.when((F.expr("ts_ns DIV 86400000000000") + 3) % 7 >= 5, 1)
        .otherwise(0)
        .alias("f_weekend"),
        F.when(F.expr("ts_ns DIV 3600000000000") % 24 < 6, 1)
        .otherwise(0)
        .alias("f_night"),
        F.when(F.col("event_type").isin("purchase", "signup"), 1)
        .otherwise(0)
        .alias("f_conversion"),
        F.when(F.col("value") > F.col("median"), 1).otherwise(0).alias("y"),
    ).transform(managed_persist)
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    cube_cells = base.cube("f_weekend", "f_night", "f_conversion").agg(
        (
            F.grouping("f_weekend") * 4
            + F.grouping("f_night") * 2
            + F.grouping("f_conversion")
        ).alias("gid"),
        F.count(F.lit(1)).cast("bigint").alias("n_c"),
        F.sum("y").cast("bigint").alias("s_c"),
    ).select("gid", "n_c", "s_c")
    vs = cube_cells.groupBy("gid").agg(
        F.sum(
            F.round(F.col("s_c") * F.col("s_c") / F.col("n_c").cast("double"), 8)
            .cast("decimal(24,8)")
        )
        .cast("double")
        .alias("ssb")
    )
    vv = F.round(
        (F.col("ssb") - F.col("s") * F.col("s") / F.col("n").cast("double"))
        / (F.col("s") - F.col("s") * F.col("s") / F.col("n").cast("double")),
        8,
    )
    vtab = vs.crossJoin(F.broadcast(tot)).select("gid", vv.alias("vv"))
    vrow = vtab.agg(
        *[
            F.max(F.when(F.col("gid") == g, F.col("vv"))).alias(name)
            for g, name in [
                (7, "v_none"),
                (3, "v_w"),
                (5, "v_n"),
                (6, "v_c"),
                (1, "v_wn"),
                (2, "v_wc"),
                (4, "v_nc"),
                (0, "v_wnc"),
            ]
        ]
    ).transform(managed_persist)
    vn, vw, vni, vc = F.col("v_none"), F.col("v_w"), F.col("v_n"), F.col("v_c")
    vwn, vwc, vnc, vf = F.col("v_wn"), F.col("v_wc"), F.col("v_nc"), F.col("v_wnc")
    rows = [
        ("weekend", vw, F.round((2 * (vw - vn) + (vwn - vni) + (vwc - vc) + 2 * (vf - vnc)) / 6.0, 6)),
        ("night", vni, F.round((2 * (vni - vn) + (vwn - vw) + (vnc - vc) + 2 * (vf - vwc)) / 6.0, 6)),
        ("conversion", vc, F.round((2 * (vc - vn) + (vwc - vw) + (vnc - vni) + 2 * (vf - vwn)) / 6.0, 6)),
    ]
    out = None
    for name, alone, phi in rows:
        r = vrow.select(
            F.lit(name).alias("feature"),
            alone.alias("v_alone"),
            phi.alias("shapley_phi"),
            F.round(vf, 6).alias("v_full"),
        )
        out = r if out is None else out.unionByName(r)
    return out


_MP_W = 5  # matrix-profile subsequence length (days)


@query(
    "q334_matrix_profile",
    oracle=f"""
WITH daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         CAST(ROUND(ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                          / COUNT(*), 6) * 1000000) AS BIGINT) AS mi
  FROM events GROUP BY event_type, day
),
rel AS MATERIALIZED (
  SELECT event_type, mi,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
win AS MATERIALIZED (
  SELECT event_type, rn AS i FROM rel WHERE rn <= n - {_MP_W} + 1
),
pairs AS MATERIALIZED (
  SELECT a.event_type, a.i, b.i AS j
  FROM win a JOIN win b
    ON b.event_type = a.event_type AND b.i >= a.i + {_MP_W}
),
dists AS MATERIALIZED (
  SELECT p.event_type, p.i, p.j,
         CAST(SUM((ra.mi - rb.mi) * (ra.mi - rb.mi)) AS BIGINT) AS d2
  FROM pairs p
  CROSS JOIN (SELECT unnest(generate_series(0, {_MP_W - 1})) AS o) os
  JOIN rel ra ON ra.event_type = p.event_type AND ra.rn = p.i + os.o
  JOIN rel rb ON rb.event_type = p.event_type AND rb.rn = p.j + os.o
  GROUP BY p.event_type, p.i, p.j
),
sym AS MATERIALIZED (
  SELECT event_type, i, j, d2 FROM dists
  UNION ALL
  SELECT event_type, j AS i, i AS j, d2 FROM dists
),
profile AS MATERIALIZED (
  SELECT event_type, i, mp, nn FROM (
    SELECT event_type, i, d2 AS mp, j AS nn,
           ROW_NUMBER() OVER (PARTITION BY event_type, i
                              ORDER BY d2, j) AS rk
    FROM sym
  ) WHERE rk = 1
)
SELECT event_type,
       CAST(MAX(CASE WHEN rk_motif = 1 THEN i END) AS BIGINT) AS motif_i,
       CAST(MAX(CASE WHEN rk_motif = 1 THEN nn END) AS BIGINT) AS motif_j,
       ROUND(MAX(CASE WHEN rk_motif = 1 THEN mp END) / 1e12, 6) AS motif_d2,
       CAST(MAX(CASE WHEN rk_disc = 1 THEN i END) AS BIGINT) AS discord_i,
       ROUND(MAX(CASE WHEN rk_disc = 1 THEN mp END) / 1e12, 6) AS discord_d2
FROM (
  SELECT event_type, i, nn, mp,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY mp, i) AS rk_motif,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY mp DESC, i) AS rk_disc
  FROM profile
) GROUP BY event_type
""",
)
def q334_matrix_profile(spark, sf_dir):
    """EXACT MATRIX PROFILE summary per metric series (Yeh 2016 — the
    all-pairs-subsequence similarity structure behind motif discovery
    and discord/anomaly detection in time series; the SUBSEQUENCE
    complement of q307's whole-series DTW): per 5-day window, distance
    to its nearest non-overlapping neighbor; the MOTIF (globally
    closest pair) and the DISCORD (window farthest from everything).

    Scale discipline: windows live on CALENDAR-BOUNDED daily grids
    (26 windows/series at 30 days) quantized to integer micro-units,
    so all distances are exact BIGINTs; the pair table is
    series-bounded (exclusion zone |i-j| >= w applied in the join
    predicate) and distance assembly is an offset-spine equi-join —
    no arrays, no kernels. Argmin/argmax with full index
    tie-breaks."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.expr(
            "CAST(ROUND(ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)"
            " / COUNT(*), 6) * 1000000) AS BIGINT)"
        ).alias("mi")
    )
    rel = daily.select(
        "event_type",
        "mi",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
    ).transform(managed_persist)
    win = rel.where(F.col("rn") <= F.col("n") - (_MP_W - 1)).select(
        "event_type", F.col("rn").alias("i")
    )
    pairs = win.join(
        win.select("event_type", F.col("i").alias("j")), "event_type"
    ).where(F.col("j") >= F.col("i") + _MP_W)
    os_ = spark.range(0, _MP_W).select(F.col("id").alias("o"))
    dists = (
        pairs.crossJoin(F.broadcast(os_))
        .withColumn("rna", F.col("i") + F.col("o"))
        .withColumn("rnb", F.col("j") + F.col("o"))
        .join(
            rel.select("event_type", F.col("rn").alias("rna"), F.col("mi").alias("ma")),
            ["event_type", "rna"],
        )
        .join(
            rel.select("event_type", F.col("rn").alias("rnb"), F.col("mi").alias("mb")),
            ["event_type", "rnb"],
        )
        .groupBy("event_type", "i", "j")
        .agg(
            F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")))
            .cast("bigint")
            .alias("d2")
        )
    )
    sym = dists.unionByName(
        dists.select(
            "event_type", F.col("j").alias("i"), F.col("i").alias("j"), "d2"
        )
    )
    profile = (
        sym.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("event_type", "i").orderBy("d2", "j")
            ),
        )
        .where(F.col("rk") == 1)
        .select("event_type", "i", F.col("d2").alias("mp"), F.col("j").alias("nn"))
    )
    ranked = profile.select(
        "event_type",
        "i",
        "nn",
        "mp",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("mp", "i"))
        .alias("rk_motif"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy(F.col("mp").desc(), "i"))
        .alias("rk_disc"),
    )
    return ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rk_motif") == 1, F.col("i"))).cast("bigint").alias("motif_i"),
        F.max(F.when(F.col("rk_motif") == 1, F.col("nn"))).cast("bigint").alias("motif_j"),
        F.round(
            F.max(F.when(F.col("rk_motif") == 1, F.col("mp"))) / F.lit(1e12), 6
        ).alias("motif_d2"),
        F.max(F.when(F.col("rk_disc") == 1, F.col("i"))).cast("bigint").alias("discord_i"),
        F.round(
            F.max(F.when(F.col("rk_disc") == 1, F.col("mp"))) / F.lit(1e12), 6
        ).alias("discord_d2"),
    )


@query(
    "q335_binseg_changepoints",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, day
),
rel AS MATERIALIZED (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
         SUM(cents) OVER (PARTITION BY event_type ORDER BY day) AS cum,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(cents) OVER (PARTITION BY event_type) AS tot
  FROM daily
),
cp1 AS MATERIALIZED (
  SELECT event_type, t AS c1, cum AS cum1, n, tot FROM (
    SELECT event_type, t, cum, n, tot,
           ROW_NUMBER() OVER (PARTITION BY event_type
             ORDER BY ABS(n * cum - t * tot) DESC, t) AS rk
    FROM rel WHERE t < n
  ) WHERE rk = 1
),
leftseg AS (
  SELECT r.event_type, r.t,
         ABS(c.c1 * r.cum - r.t * c.cum1) AS score
  FROM rel r JOIN cp1 c ON c.event_type = r.event_type
  WHERE r.t < c.c1
),
cpl AS MATERIALIZED (
  SELECT event_type, t AS c_left FROM (
    SELECT event_type, t,
           ROW_NUMBER() OVER (PARTITION BY event_type
             ORDER BY score DESC, t) AS rk
    FROM leftseg
  ) WHERE rk = 1
),
rightseg AS (
  SELECT r.event_type, r.t,
         ABS((c.n - c.c1) * (r.cum - c.cum1)
             - (r.t - c.c1) * (c.tot - c.cum1)) AS score
  FROM rel r JOIN cp1 c ON c.event_type = r.event_type
  WHERE r.t > c.c1 AND r.t < c.n
),
cpr AS MATERIALIZED (
  SELECT event_type, t AS c_right FROM (
    SELECT event_type, t,
           ROW_NUMBER() OVER (PARTITION BY event_type
             ORDER BY score DESC, t) AS rk
    FROM rightseg
  ) WHERE rk = 1
)
SELECT c.event_type, CAST(c.n AS BIGINT) AS n_days,
       CAST(l.c_left AS BIGINT) AS cp_left,
       CAST(c.c1 AS BIGINT) AS cp_main,
       CAST(r.c_right AS BIGINT) AS cp_right
FROM cp1 c
JOIN cpl l ON l.event_type = c.event_type
JOIN cpr r ON r.event_type = c.event_type
""",
)
def q335_binseg_changepoints(spark, sf_dir):
    """BINARY-SEGMENTATION CHANGEPOINTS per daily revenue series — the
    MULTIPLE-changepoint extension of q283's single CUSUM estimator
    (the ruptures/binseg recursion, depth 2 = up to three regimes):
    find the global CUSUM argmax, then recurse into each side with the
    segment's OWN totals.

    Scale discipline: INTEGER-EXACT throughout — scores are
    |len * cum - t * total| with the mean never divided out (q197's
    clearing trick), segment scores re-derived from the global prefix
    sums by subtraction (no per-segment rescan of the raw stream); one
    window pass + two segment-bounded joins; full index tie-breaks
    make every argmax engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("cents")
    )
    w_ord = W.partitionBy("event_type").orderBy("day")
    w_all = W.partitionBy("event_type")
    rel = daily.select(
        "event_type",
        F.row_number().over(w_ord).alias("t"),
        F.sum("cents")
        .over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("cents").over(w_all).alias("tot"),
    ).transform(managed_persist)
    cp1 = (
        rel.where(F.col("t") < F.col("n"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("event_type").orderBy(
                    F.abs(
                        F.col("n") * F.col("cum") - F.col("t") * F.col("tot")
                    ).desc(),
                    "t",
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("t").alias("c1"),
            F.col("cum").alias("cum1"),
            "n",
            "tot",
        )
        .transform(managed_persist)
    )
    base = rel.select("event_type", "t", "cum").join(F.broadcast(cp1), "event_type")
    cpl = (
        base.where(F.col("t") < F.col("c1"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("event_type").orderBy(
                    F.abs(
                        F.col("c1") * F.col("cum") - F.col("t") * F.col("cum1")
                    ).desc(),
                    "t",
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select("event_type", F.col("t").alias("c_left"))
    )
    cpr = (
        base.where((F.col("t") > F.col("c1")) & (F.col("t") < F.col("n")))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("event_type").orderBy(
                    F.abs(
                        (F.col("n") - F.col("c1")) * (F.col("cum") - F.col("cum1"))
                        - (F.col("t") - F.col("c1"))
                        * (F.col("tot") - F.col("cum1"))
                    ).desc(),
                    "t",
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select("event_type", F.col("t").alias("c_right"))
    )
    return (
        cp1.join(cpl, "event_type")
        .join(cpr, "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            F.col("c_left").cast("bigint").alias("cp_left"),
            F.col("c1").cast("bigint").alias("cp_main"),
            F.col("c_right").cast("bigint").alias("cp_right"),
        )
    )


@query(
    "q348_quantile_treatment_effect",
    oracle="""
WITH arms AS MATERIALIZED (
  SELECT user_id % 2 AS arm, value AS v FROM events
),
rk AS (
  SELECT arm, v,
         ROW_NUMBER() OVER (PARTITION BY arm ORDER BY v, v) AS rn,
         COUNT(*) OVER (PARTITION BY arm) AS n
  FROM arms
),
qs AS MATERIALIZED (
  SELECT r.arm, d.d AS decile, r.v
  FROM rk r
  JOIN (SELECT unnest(generate_series(1, 9)) AS d) d
    ON r.rn = CAST(CEIL(d.d * 0.1 * r.n) AS BIGINT)
)
SELECT a.decile,
       a.v AS q_treatment,
       b.v AS q_control,
       ROUND(a.v - b.v, 6) AS qte
FROM qs a JOIN qs b ON b.decile = a.decile AND a.arm = 1 AND b.arm = 0
""",
)
def q348_quantile_treatment_effect(spark, sf_dir):
    """QUANTILE TREATMENT EFFECTS (the distributional A/B readout —
    a mean shift of zero can hide a variance trade where the
    treatment helps the median user and hurts the tail; QTE(tau) =
    q_T(tau) - q_C(tau) per decile is the standard way to see it,
    beside q265's mean CUPED and q293's rank test): exact rank-picked
    deciles per arm and their differences.

    Scale discipline: one rank window per arm (arm-partitioned
    sorts), decile picks via an equi-join of rank = ceil(tau*n) on
    the 9-row tau spine — no interpolation, engine-identical picks;
    output is decile-bounded."""
    ev = load_table(spark, sf_dir, "events")
    arms = ev.select(
        (F.col("user_id") % 2).alias("arm"), F.col("value").alias("v")
    )
    rk = arms.select(
        "arm",
        "v",
        F.row_number().over(W.partitionBy("arm").orderBy("v", "v")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("arm")).alias("n"),
    )
    ds = spark.range(1, 10).select(F.col("id").alias("decile"))
    qs = rk.crossJoin(F.broadcast(ds)).where(
        F.col("rn")
        == F.ceil(F.col("decile") * 0.1 * F.col("n")).cast("bigint")
    ).select("arm", "decile", "v")
    a = qs.where(F.col("arm") == 1).select(
        "decile", F.col("v").alias("q_treatment")
    )
    b = qs.where(F.col("arm") == 0).select(
        "decile", F.col("v").alias("q_control")
    )
    return a.join(b, "decile").select(
        "decile",
        "q_treatment",
        "q_control",
        F.round(F.col("q_treatment") - F.col("q_control"), 6).alias("qte"),
    )


@query(
    "q349_wilcoxon_signed_rank",
    oracle="""
WITH per_user AS MATERIALIZED (
  SELECT event_type, user_id,
         ROUND(CAST(SUM(CASE WHEN ((epoch_ns(ts) // 86400000000000) + 3) % 7 >= 5
                        THEN CAST(value AS DECIMAL(12,2)) ELSE NULL END) AS DOUBLE)
               / NULLIF(SUM(CASE WHEN ((epoch_ns(ts) // 86400000000000) + 3) % 7 >= 5
                            THEN 1 ELSE 0 END), 0), 6) AS m_we,
         ROUND(CAST(SUM(CASE WHEN ((epoch_ns(ts) // 86400000000000) + 3) % 7 < 5
                        THEN CAST(value AS DECIMAL(12,2)) ELSE NULL END) AS DOUBLE)
               / NULLIF(SUM(CASE WHEN ((epoch_ns(ts) // 86400000000000) + 3) % 7 < 5
                            THEN 1 ELSE 0 END), 0), 6) AS m_wd
  FROM events GROUP BY event_type, user_id
),
diffs AS MATERIALIZED (
  SELECT event_type, ROUND(m_we - m_wd, 6) AS d
  FROM per_user
  WHERE m_we IS NOT NULL AND m_wd IS NOT NULL AND m_we <> m_wd
),
rk AS (
  SELECT event_type, d,
         RANK() OVER (PARTITION BY event_type ORDER BY ABS(d)) AS rmin,
         COUNT(*) OVER (PARTITION BY event_type, ABS(d)) AS tc
  FROM diffs
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN d > 0 THEN 2 * rmin + tc - 1 ELSE 0 END) AS BIGINT)
           AS two_wplus
  FROM rk GROUP BY event_type
),
ties AS (
  SELECT event_type,
         CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT) AS tsum
  FROM (SELECT event_type, ABS(d) AS a, COUNT(*) AS t
        FROM diffs GROUP BY event_type, ABS(d))
  WHERE t > 1 GROUP BY event_type
)
SELECT a.event_type, a.n,
       ROUND(a.two_wplus / 2.0, 1) AS w_plus,
       ROUND((a.two_wplus / 2.0 - a.n * (a.n + 1) / 4.0)
             / sqrt(a.n * (a.n + 1) * (2 * a.n + 1) / 24.0
                    - COALESCE(t.tsum, 0) / 48.0), 6) AS wilcoxon_z
FROM agg a LEFT JOIN ties t ON t.event_type = a.event_type
""",
)
def q349_wilcoxon_signed_rank(spark, sf_dir):
    """WILCOXON SIGNED-RANK TEST, paired weekend-vs-weekday per USER
    (the PAIRED complement of q293's unpaired Mann-Whitney: each user
    serves as their own control, killing between-user variance the way
    q265's CUPED does parametrically): per-user mean differences, zero
    differences dropped per Wilcoxon, tie-corrected normal z.

    Scale discipline: the stream reduces to per-(series, user) paired
    means in one conditional aggregate; signed rank sums use the
    integer 2*rmin + tc - 1 trick (q293's machinery on |d|); the tie
    correction reads the |d| histogram. Exact integers until the final
    two divisions."""
    ev = load_table(spark, sf_dir, "events")
    is_we = (F.expr("ts_ns DIV 86400000000000") + 3) % 7 >= 5
    dv = dec("value")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.round(
            F.sum(F.when(is_we, dv)).cast("double")
            / F.nullif(F.sum(F.when(is_we, 1).otherwise(0)), F.lit(0)),
            6,
        ).alias("m_we"),
        F.round(
            F.sum(F.when(~is_we, dv)).cast("double")
            / F.nullif(F.sum(F.when(~is_we, 1).otherwise(0)), F.lit(0)),
            6,
        ).alias("m_wd"),
    )
    diffs = per_user.where(
        F.col("m_we").isNotNull()
        & F.col("m_wd").isNotNull()
        & (F.col("m_we") != F.col("m_wd"))
    ).select(
        "event_type", F.round(F.col("m_we") - F.col("m_wd"), 6).alias("d")
    ).transform(managed_persist)
    rk = diffs.select(
        "event_type",
        "d",
        F.rank()
        .over(W.partitionBy("event_type").orderBy(F.abs(F.col("d"))))
        .alias("rmin"),
        F.count(F.lit(1))
        .over(W.partitionBy("event_type", F.abs(F.col("d"))))
        .alias("tc"),
    )
    agg = rk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("d") > 0, 2 * F.col("rmin") + F.col("tc") - 1).otherwise(0)
        )
        .cast("bigint")
        .alias("two_wplus"),
    )
    ties = (
        diffs.groupBy("event_type", F.abs(F.col("d")).alias("a"))
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")), F.lit(0)
            )
            .cast("bigint")
            .alias("tsum")
        )
    )
    n = F.col("n")
    wplus = F.col("two_wplus") / 2.0
    var = n * (n + 1) * (2 * n + 1) / 24.0 - F.coalesce(
        F.col("tsum"), F.lit(0)
    ) / 48.0
    return agg.join(ties, "event_type", "left").select(
        "event_type",
        "n",
        F.round(wplus, 1).alias("w_plus"),
        F.round((wplus - n * (n + 1) / 4.0) / F.sqrt(var), 6).alias(
            "wilcoxon_z"
        ),
    )


@query(
    "q352_seasonal_adjustment",
    oracle="""
WITH hours AS MATERIALIZED (
  SELECT event_type,
         (epoch_ns(ts) // 3600000000000) % 24 AS hod,
         epoch_ns(ts) // 86400000000000 AS day,
         value
  FROM events
),
cells AS MATERIALIZED (
  SELECT event_type, hod,
         CAST(COUNT(*) AS BIGINT) AS n_c,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s_c
  FROM hours GROUP BY event_type, hod
),
grand AS MATERIALIZED (
  SELECT event_type,
         ROUND(CAST(SUM(CAST(s_c AS DECIMAL(20,2))) AS DOUBLE) / SUM(n_c), 6)
           AS gmean
  FROM cells GROUP BY event_type
),
idx AS MATERIALIZED (
  SELECT c.event_type, c.hod,
         ROUND(ROUND(c.s_c / c.n_c, 6) / g.gmean, 8) AS season_idx
  FROM cells c JOIN grand g ON g.event_type = c.event_type
),
adjusted AS (
  SELECT h.event_type, h.day,
         CAST(h.value AS DECIMAL(12,2)) AS raw,
         CAST(ROUND(h.value / i.season_idx, 6) AS DECIMAL(18,6)) AS adj
  FROM hours h JOIN idx i
    ON i.event_type = h.event_type AND i.hod = h.hod
),
daily AS MATERIALIZED (
  SELECT event_type, day,
         ROUND(CAST(SUM(raw) AS DOUBLE) / COUNT(*), 6) AS m_raw,
         ROUND(CAST(SUM(adj) AS DOUBLE) / COUNT(*), 6) AS m_adj
  FROM adjusted GROUP BY event_type, day
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(VAR_SAMP(m_raw), 6) AS var_raw,
       ROUND(VAR_SAMP(m_adj), 6) AS var_adj,
       ROUND(1 - VAR_SAMP(m_adj) / VAR_SAMP(m_raw), 6) AS variance_reduction
FROM daily GROUP BY event_type
""",
)
def q352_seasonal_adjustment(spark, sf_dir):
    """RATIO-TO-MOVING-AVERAGE SEASONAL ADJUSTMENT (the X-11-lite
    deseasonalizer: divide each observation by its hour-of-day
    seasonal index, then compare day-level variance before/after —
    the ADJUSTMENT that q287's seasonal-R2 DETECTION motivates, and
    the denoising q283/q310/q295 trend tools want upstream): per
    series, the variance-reduction report of hour-index division.

    Scale discipline: the index is q287's 24-cell ledger (one
    map-side-combinable pass); adjustment is a broadcast join of 120
    index rows back onto the stream; daily means snap through DECIMAL;
    VAR_SAMP runs over the calendar-bounded daily table only. NOTE on
    VAR_SAMP: acceptable here ONLY because its input is the tiny
    snapped daily table where both engines see identical doubles — the
    corpus-sized moments still go through DECIMAL sums."""
    ev = load_table(spark, sf_dir, "events")
    hours = ev.select(
        "event_type",
        (F.expr("ts_ns DIV 3600000000000") % 24).alias("hod"),
        F.expr("ts_ns DIV 86400000000000").alias("day"),
        "value",
    )
    cells = hours.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c"),
        F.sum(dec("value")).cast("double").alias("s_c"),
    ).transform(managed_persist)
    grand = cells.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("s_c").cast("decimal(20,2)")).cast("double")
            / F.sum("n_c"),
            6,
        ).alias("gmean")
    )
    idx = cells.join(F.broadcast(grand), "event_type").select(
        "event_type",
        "hod",
        F.round(
            F.round(F.col("s_c") / F.col("n_c"), 6) / F.col("gmean"), 8
        ).alias("season_idx"),
    )
    adjusted = hours.join(F.broadcast(idx), ["event_type", "hod"]).select(
        "event_type",
        "day",
        F.col("value").cast("decimal(12,2)").alias("raw"),
        F.round(F.col("value") / F.col("season_idx"), 6)
        .cast("decimal(18,6)")
        .alias("adj"),
    )
    daily = adjusted.groupBy("event_type", "day").agg(
        F.round(F.sum("raw").cast("double") / F.count(F.lit(1)), 6).alias("m_raw"),
        F.round(F.sum("adj").cast("double") / F.count(F.lit(1)), 6).alias("m_adj"),
    )
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.var_samp("m_raw"), 6).alias("var_raw"),
        F.round(F.var_samp("m_adj"), 6).alias("var_adj"),
        F.round(1 - F.var_samp("m_adj") / F.var_samp("m_raw"), 6).alias(
            "variance_reduction"
        ),
    )


@query(
    "q354_eb_shrinkage",
    oracle="""
WITH per_user AS MATERIALIZED (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS k,
         ROUND(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE), 8) AS raw_rate
  FROM events GROUP BY user_id
),
mom AS MATERIALIZED (
  SELECT
    ROUND(CAST(SUM(CAST(raw_rate AS DECIMAL(12,8))) AS DOUBLE)
          / COUNT(*), 8) AS m,
    ROUND((CAST(SUM(CAST(ROUND(raw_rate * raw_rate, 10)
                         AS DECIMAL(16,10))) AS DOUBLE)
           - COUNT(*) * ROUND(CAST(SUM(CAST(raw_rate AS DECIMAL(12,8)))
                                   AS DOUBLE) / COUNT(*), 8)
                      * ROUND(CAST(SUM(CAST(raw_rate AS DECIMAL(12,8)))
                                   AS DOUBLE) / COUNT(*), 8))
          / (COUNT(*) - 1), 10) AS v
  FROM per_user
),
params AS MATERIALIZED (
  SELECT m, v,
         ROUND(m * (m * (1 - m) / v - 1), 8) AS alpha,
         ROUND((1 - m) * (m * (1 - m) / v - 1), 8) AS beta
  FROM mom
)
SELECT u.user_id, u.n, u.k, u.raw_rate,
       ROUND(p.alpha, 4) AS alpha, ROUND(p.beta, 4) AS beta,
       ROUND((u.k + p.alpha) / (u.n + p.alpha + p.beta), 8) AS shrunk_rate,
       CAST(ROW_NUMBER() OVER (
         ORDER BY ABS(u.raw_rate
                      - (u.k + p.alpha) / (u.n + p.alpha + p.beta)) DESC,
                  u.user_id) AS INT) AS rk
FROM per_user u CROSS JOIN params p
QUALIFY rk <= 20
""",
)
def q354_eb_shrinkage(spark, sf_dir):
    """EMPIRICAL-BAYES BETA-BINOMIAL SHRINKAGE of per-user conversion
    rates (the James-Stein / batting-average classic — raw small-n
    rates are noise; shrink toward the population prior fitted by
    method of moments: alpha+beta = m(1-m)/v - 1): the 20 users whose
    rates MOVE most under shrinkage, with the fitted prior — the
    principled fix for every 'top converters' leaderboard q19's raw
    top-k would get wrong.

    Scale discipline: one user-ledger aggregate, moments via
    snapped-term DECIMAL sums, the prior is TWO scalars broadcast back
    — shrinkage is a projection; the argmax-of-movement ranking runs
    on the user ledger, not the stream."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            8,
        ).alias("raw_rate"),
    ).transform(managed_persist)
    m_expr = F.round(
        F.sum(F.col("raw_rate").cast("decimal(12,8)")).cast("double")
        / F.count(F.lit(1)),
        8,
    )
    mom = per_user.agg(
        m_expr.alias("m"),
        F.round(
            (
                F.sum(
                    F.round(F.col("raw_rate") * F.col("raw_rate"), 10).cast(
                        "decimal(16,10)"
                    )
                ).cast("double")
                - F.count(F.lit(1)) * m_expr * m_expr
            )
            / (F.count(F.lit(1)) - 1),
            10,
        ).alias("v"),
    )
    m, v = F.col("m"), F.col("v")
    params = mom.select(
        F.round(m * (m * (1 - m) / v - 1), 8).alias("alpha"),
        F.round((1 - m) * (m * (1 - m) / v - 1), 8).alias("beta"),
    )
    j = per_user.crossJoin(F.broadcast(params))
    shrunk = (F.col("k") + F.col("alpha")) / (
        F.col("n") + F.col("alpha") + F.col("beta")
    )
    scored = j.select(
        "user_id",
        "n",
        "k",
        "raw_rate",
        F.round(F.col("alpha"), 4).alias("alpha"),
        F.round(F.col("beta"), 4).alias("beta"),
        F.round(shrunk, 8).alias("shrunk_rate"),
        F.abs(F.col("raw_rate") - shrunk).alias("_mv"),
    )
    top = scored.orderBy(F.col("_mv").desc(), "user_id").limit(20)
    return top.select(
        "user_id",
        "n",
        "k",
        "raw_rate",
        "alpha",
        "beta",
        "shrunk_rate",
        F.row_number()
        .over(W.orderBy(F.col("_mv").desc(), "user_id"))
        .cast("int")
        .alias("rk"),
    )


@query(
    "q355_forecast_backtest",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, day
),
rel AS MATERIALIZED (
  SELECT event_type, m,
         ROW_NUMBER() OVER w AS t,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         LAG(m, 1) OVER w AS lag1,
         LAG(m, 7) OVER w AS lag7,
         FIRST_VALUE(m) OVER w AS m0
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
test AS MATERIALIZED (
  SELECT event_type, t, m,
         lag1 AS pred_naive,
         lag7 AS pred_snaive,
         ROUND(lag1 + (lag1 - m0) / (t - 2), 6) AS pred_drift
  FROM rel WHERE t > n - 7 AND lag7 IS NOT NULL AND t > 2
),
errs AS (
  SELECT event_type, 'naive' AS method,
         ROUND(ABS(m - pred_naive), 8) AS ae,
         ROUND(ABS(m - pred_naive) / ABS(m), 8) AS ape
  FROM test
  UNION ALL
  SELECT event_type, 'seasonal_naive',
         ROUND(ABS(m - pred_snaive), 8), ROUND(ABS(m - pred_snaive) / ABS(m), 8)
  FROM test
  UNION ALL
  SELECT event_type, 'drift',
         ROUND(ABS(m - pred_drift), 8), ROUND(ABS(m - pred_drift) / ABS(m), 8)
  FROM test
)
SELECT event_type, method,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       ROUND(CAST(SUM(CAST(ae AS DECIMAL(16,8))) AS DOUBLE) / COUNT(*), 6)
         AS mae,
       ROUND(CAST(SUM(CAST(ape AS DECIMAL(16,8))) AS DOUBLE) / COUNT(*), 6)
         AS mape
FROM errs GROUP BY event_type, method
""",
)
def q355_forecast_backtest(spark, sf_dir):
    """FORECAST BACKTEST HARNESS (the M-competition baseline trio —
    naive, seasonal-naive, drift — scored on the last 7 held-out days
    per series: the model-selection gate that decides whether q267's
    EWMA or q302's Holt actually beats 'copy yesterday', which most
    dashboards never check): one-step-ahead MAE and MAPE per method.

    Scale discipline: predictions are LAG/FIRST_VALUE windows over
    calendar-bounded daily means — every baseline is a projection, no
    model state; absolute errors snap at 8 into DECIMAL means; output
    is (series x method)-bounded."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    )
    w_ord = W.partitionBy("event_type").orderBy("day")
    rel = daily.select(
        "event_type",
        "m",
        F.row_number().over(w_ord).alias("t"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
        F.lag("m", 1).over(w_ord).alias("lag1"),
        F.lag("m", 7).over(w_ord).alias("lag7"),
        F.first("m").over(
            w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("m0"),
    )
    test = rel.where(
        (F.col("t") > F.col("n") - 7)
        & F.col("lag7").isNotNull()
        & (F.col("t") > 2)
    ).select(
        "event_type",
        "m",
        F.col("lag1").alias("pred_naive"),
        F.col("lag7").alias("pred_snaive"),
        F.round(
            F.col("lag1") + (F.col("lag1") - F.col("m0")) / (F.col("t") - 2), 6
        ).alias("pred_drift"),
    ).transform(managed_persist)

    def errs(pred_col, name):
        ae = F.round(F.abs(F.col("m") - F.col(pred_col)), 8)
        ape = F.round(F.abs(F.col("m") - F.col(pred_col)) / F.abs(F.col("m")), 8)
        return test.select(
            "event_type",
            F.lit(name).alias("method"),
            ae.alias("ae"),
            ape.alias("ape"),
        )

    e = (
        errs("pred_naive", "naive")
        .unionByName(errs("pred_snaive", "seasonal_naive"))
        .unionByName(errs("pred_drift", "drift"))
    )
    return e.groupBy("event_type", "method").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.round(
            F.sum(F.col("ae").cast("decimal(16,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mae"),
        F.round(
            F.sum(F.col("ape").cast("decimal(16,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mape"),
    )


@query(
    "q363_qini_curve",
    oracle="""
WITH users AS MATERIALIZED (
  SELECT user_id, user_id % 2 AS arm,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS conv,
         ROUND(CAST(SUM(CASE WHEN event_type = 'view'
                        THEN CAST(value AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE), 2)
           AS score
  FROM events GROUP BY user_id
),
ranked AS MATERIALIZED (
  SELECT arm, conv, score,
         NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile
  FROM users
),
per_decile AS MATERIALIZED (
  SELECT decile,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_t,
         CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_c
  FROM ranked GROUP BY decile
)
SELECT CAST(decile AS INT) AS decile, n_t, n_c, conv_t, conv_c,
       ROUND(SUM(conv_t) OVER w
             - SUM(conv_c) OVER w
               * (SUM(n_t) OVER w / CAST(SUM(n_c) OVER w AS DOUBLE)), 4)
         AS qini,
       ROUND(conv_t / CAST(n_t AS DOUBLE)
             - conv_c / CAST(n_c AS DOUBLE), 6) AS decile_uplift
FROM per_decile
WINDOW w AS (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def q363_qini_curve(spark, sf_dir):
    """QINI CURVE (the uplift-model evaluation standard — ranking
    users by a targeting score, does TREATING the top deciles buy
    incremental conversions over control, scaled for arm imbalance?
    The CAUSAL ranking grade beside q212's pure-response lift table):
    cumulative Qini and per-decile uplift over a deterministic
    engagement-score ranking.

    Scale discipline: one user-ledger aggregate; NTILE re-expressed as
    closed-form arithmetic over a DISTRIBUTED row number (score-bucket
    prefix + bucket-local window, r7 — the plain NTILE window was a
    user-domain single-partition sort); Qini is two cumulative windows
    over the 10-row decile table — exact integer conversions, two
    rounded ratios."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(F.col("user_id") % 2).alias("arm"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("conv"),
        F.round(
            F.sum(
                F.when(F.col("event_type") == "view", dec("value")).otherwise(
                    F.lit(0).cast("decimal(12,2)")
                )
            ).cast("double"),
            2,
        ).alias("score"),
    )
    from variantcalling_spark.operators.ordered import (
        distributed_row_number,
        ntile_expr,
    )

    n_users = users.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    ranked = (
        distributed_row_number(
            users,
            [F.col("score").desc(), F.col("user_id")],
            F.floor(-F.col("score") / 256.0).cast("bigint"),
            out_col="__rn",
        )
        .crossJoin(F.broadcast(n_users))
        .select(
            "arm",
            "conv",
            ntile_expr(F.col("__rn"), F.col("n_users"), 10).alias("decile"),
        )
    )
    per_decile = ranked.groupBy("decile").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_t"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_t"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_c"),
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per_decile.select(
        F.col("decile").cast("int").alias("decile"),
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.round(
            F.sum("conv_t").over(w)
            - F.sum("conv_c").over(w)
            * (F.sum("n_t").over(w) / F.sum("n_c").over(w).cast("double")),
            4,
        ).alias("qini"),
        F.round(
            F.col("conv_t") / F.col("n_t").cast("double")
            - F.col("conv_c") / F.col("n_c").cast("double"),
            6,
        ).alias("decile_uplift"),
    )


_NEYMAN_BUDGET = 1000


@query(
    "q367_neyman_allocation",
    oracle=f"""
WITH stats AS MATERIALIZED (
  SELECT event_type AS stratum,
         CAST(COUNT(*) AS BIGINT) AS nh,
         ROUND(sqrt((CAST(SUM(CAST(value AS DECIMAL(12,2))
                              * CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                     - COUNT(*) * ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2)))
                                             AS DOUBLE) / COUNT(*), 6)
                                * ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2)))
                                             AS DOUBLE) / COUNT(*), 6))
                    / (COUNT(*) - 1)), 6) AS sh
  FROM events GROUP BY event_type
),
tot AS MATERIALIZED (
  SELECT CAST(SUM(nh) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(nh * sh, 6) AS DECIMAL(24,6))) AS DOUBLE)
           AS sum_ns
  FROM stats
)
SELECT s.stratum, s.nh, s.sh,
       CAST(ROUND({_NEYMAN_BUDGET} * s.nh
                  / CAST((SELECT n FROM tot) AS DOUBLE)) AS BIGINT)
         AS n_proportional,
       CAST(ROUND({_NEYMAN_BUDGET} * ROUND(s.nh * s.sh, 6)
                  / (SELECT sum_ns FROM tot)) AS BIGINT) AS n_neyman,
       ROUND({_NEYMAN_BUDGET} * ROUND(s.nh * s.sh, 6)
             / (SELECT sum_ns FROM tot)
             - {_NEYMAN_BUDGET} * s.nh
               / CAST((SELECT n FROM tot) AS DOUBLE), 4) AS reallocation
FROM stats s
""",
)
def q367_neyman_allocation(spark, sf_dir):
    """NEYMAN OPTIMAL ALLOCATION (survey-sampling classic: a fixed
    sample budget buys minimum-variance estimates when strata are
    sampled proportional to N_h * S_h, not just N_h — the design step
    BEFORE q25's stratified draw, and the reason high-variance strata
    deserve oversampling): per-stratum proportional vs Neyman
    allocations at a 1000-unit budget and the reallocation delta.

    Scale discipline: per-stratum (n, mean, sd) from one exact-DECIMAL
    aggregate; the allocation arithmetic runs on the stratum-bounded
    ledger with snapped N_h*S_h terms."""
    ev = load_table(spark, sf_dir, "events")
    dv = dec("value")
    mean_expr = F.round(F.sum(dv).cast("double") / F.count(F.lit(1)), 6)
    stats = ev.groupBy(F.col("event_type").alias("stratum")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nh"),
        F.round(
            F.sqrt(
                (
                    F.sum(dv * dv).cast("double")
                    - F.count(F.lit(1)) * mean_expr * mean_expr
                )
                / (F.count(F.lit(1)) - 1)
            ),
            6,
        ).alias("sh"),
    ).transform(managed_persist)
    tot = stats.agg(
        F.sum("nh").cast("bigint").alias("n"),
        F.sum(F.round(F.col("nh") * F.col("sh"), 6).cast("decimal(24,6)"))
        .cast("double")
        .alias("sum_ns"),
    )
    B = _NEYMAN_BUDGET
    j = stats.crossJoin(F.broadcast(tot))
    prop = B * F.col("nh") / F.col("n").cast("double")
    ney = B * F.round(F.col("nh") * F.col("sh"), 6) / F.col("sum_ns")
    return j.select(
        "stratum",
        "nh",
        "sh",
        F.round(prop).cast("bigint").alias("n_proportional"),
        F.round(ney).cast("bigint").alias("n_neyman"),
        F.round(ney - prop, 4).alias("reallocation"),
    )


_MSTAT_ITERS = 12


def _markov_stationary_oracle_sql() -> str:
    parts = [
        """
WITH ordered AS (
  SELECT user_id, event_type AS cur,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS nxt
  FROM events
),
trans AS MATERIALIZED (
  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
  FROM ordered WHERE nxt IS NOT NULL GROUP BY cur, nxt
),
pm AS MATERIALIZED (
  SELECT cur, nxt,
         ROUND(n / CAST(SUM(n) OVER (PARTITION BY cur) AS DOUBLE), 8) AS p
  FROM trans
),
states AS MATERIALIZED (SELECT DISTINCT cur AS st FROM trans),
ns AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
emp AS MATERIALIZED (
  SELECT cur AS st,
         ROUND(SUM(n) / CAST((SELECT SUM(n) FROM trans) AS DOUBLE), 6)
           AS empirical_freq
  FROM trans GROUP BY cur
),
pi0 AS MATERIALIZED (
  SELECT st, ROUND(1.0 / (SELECT k FROM ns), 10) AS pi FROM states
)"""
    ]
    prev = "pi0"
    for i in range(1, _MSTAT_ITERS + 1):
        parts.append(
            f""",
pi{i} AS MATERIALIZED (
  SELECT m.nxt AS st,
         ROUND(CAST(SUM(CAST(ROUND({prev}.pi * m.p, 12) AS DECIMAL(16,12)))
                    AS DOUBLE), 10) AS pi
  FROM pm m JOIN {prev} ON {prev}.st = m.cur
  GROUP BY m.nxt
)"""
        )
        prev = f"pi{i}"
    parts.append(
        f"""
SELECT p.st AS state,
       ROUND(p.pi, 6) AS stationary_prob,
       e.empirical_freq,
       ROUND(ABS(p.pi - e.empirical_freq), 6) AS gap
FROM {prev} p JOIN emp e ON e.st = p.st
"""
    )
    return "".join(parts)


@query("q369_markov_stationary", oracle=_markov_stationary_oracle_sql())
def q369_markov_stationary(spark, sf_dir):
    """STATIONARY DISTRIBUTION of the behavior Markov chain (the
    long-run state occupancy the q262 transition matrix IMPLIES — if
    users keep behaving like this, where does traffic settle? The gap
    against today's empirical frequencies is the drift forecast): 12
    power-iteration steps from uniform, compared to the observed state
    mix.

    Scale discipline: the iteration runs entirely on the
    |state|^2-bounded probability matrix (state-domain tiny by
    construction); per-step terms snap at 12 into DECIMAL sums and the
    vector at 10 — both engines in lockstep (the q292 iterative
    conventions); the corpus is touched once for transitions."""
    ev = load_table(spark, sf_dir, "events")
    ordered = ev.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts_ns", "event_id"))
        .alias("nxt"),
    )
    trans = (
        ordered.where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .transform(managed_persist)
    )
    pm = trans.select(
        "cur",
        "nxt",
        F.round(
            F.col("n") / F.sum("n").over(W.partitionBy("cur")).cast("double"), 8
        ).alias("p"),
    ).transform(managed_persist)
    states = trans.select(F.col("cur").alias("st")).distinct()
    k = states.count()
    emp_tot = trans.agg(F.sum("n").alias("t")).collect()[0].t
    emp = trans.groupBy(F.col("cur").alias("st")).agg(
        F.round(F.sum("n") / F.lit(float(emp_tot)), 6).alias("empirical_freq")
    )
    pi = states.select("st", F.round(F.lit(1.0) / k, 10).alias("pi"))
    for _ in range(_MSTAT_ITERS):
        pi = (
            pm.join(pi.withColumnRenamed("st", "cur"), "cur")
            .select(
                F.col("nxt").alias("st"),
                F.round(F.col("pi") * F.col("p"), 12)
                .cast("decimal(16,12)")
                .alias("term"),
            )
            .groupBy("st")
            .agg(F.round(F.sum("term").cast("double"), 10).alias("pi"))
            .localCheckpoint(eager=True)
        )
    return pi.join(emp, "st").select(
        F.col("st").alias("state"),
        F.round(F.col("pi"), 6).alias("stationary_prob"),
        "empirical_freq",
        F.round(F.abs(F.col("pi") - F.col("empirical_freq")), 6).alias("gap"),
    )


_SPC_LSL = 5.0
_SPC_USL = 95.0


@query(
    "q370_process_capability",
    oracle=f"""
WITH stats AS MATERIALIZED (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6)
           AS mu,
         ROUND(sqrt((CAST(SUM(CAST(value AS DECIMAL(12,2))
                              * CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                     - COUNT(*) * ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2)))
                                             AS DOUBLE) / COUNT(*), 6)
                                * ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2)))
                                             AS DOUBLE) / COUNT(*), 6))
                    / (COUNT(*) - 1)), 6) AS sd,
         CAST(SUM(CASE WHEN value < {_SPC_LSL!r} OR value > {_SPC_USL!r}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_oos
  FROM events GROUP BY event_type
)
SELECT event_type, n, mu, sd,
       ROUND(({_SPC_USL!r} - {_SPC_LSL!r}) / (6 * sd), 6) AS cp,
       ROUND(LEAST(({_SPC_USL!r} - mu) / (3 * sd),
                   (mu - {_SPC_LSL!r}) / (3 * sd)), 6) AS cpk,
       n_oos,
       ROUND(n_oos / CAST(n AS DOUBLE), 6) AS oos_rate
FROM stats
""",
)
def q370_process_capability(spark, sf_dir):
    """PROCESS CAPABILITY Cp / Cpk (the SPC manufacturing indices
    applied to metric series against spec limits [5, 95] — Cp asks
    whether the spread FITS the spec band, Cpk whether it fits
    CENTERED; the observed out-of-spec rate is the empirical check the
    indices predict; the control-chart family's capacity leg beside
    q283/q288's change monitors): per series, Cp, Cpk, and the
    measured out-of-spec rate.

    Scale discipline: one exact-DECIMAL sufficient-statistics pass;
    index arithmetic over the series-bounded ledger; exact integer
    out-of-spec counts."""
    ev = load_table(spark, sf_dir, "events")
    dv = dec("value")
    mean_expr = F.round(F.sum(dv).cast("double") / F.count(F.lit(1)), 6)
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        mean_expr.alias("mu"),
        F.round(
            F.sqrt(
                (
                    F.sum(dv * dv).cast("double")
                    - F.count(F.lit(1)) * mean_expr * mean_expr
                )
                / (F.count(F.lit(1)) - 1)
            ),
            6,
        ).alias("sd"),
        F.sum(
            F.when(
                (F.col("value") < _SPC_LSL) | (F.col("value") > _SPC_USL), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_oos"),
    )
    mu, sd = F.col("mu"), F.col("sd")
    return stats.select(
        "event_type",
        "n",
        "mu",
        "sd",
        F.round((_SPC_USL - _SPC_LSL) / (6 * sd), 6).alias("cp"),
        F.round(
            F.least((_SPC_USL - mu) / (3 * sd), (mu - _SPC_LSL) / (3 * sd)), 6
        ).alias("cpk"),
        "n_oos",
        F.round(F.col("n_oos") / F.col("n").cast("double"), 6).alias("oos_rate"),
    )


_ROLLP_WIN = 7  # trailing window (days), current day inclusive


@query(
    "q372_rolling_percentile",
    oracle=f"""
WITH daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, day
),
win AS (
  SELECT event_type, day, m,
         list_sort(list(m) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN {_ROLLP_WIN - 1} PRECEDING AND CURRENT ROW)) AS w
  FROM daily
)
SELECT event_type, CAST(day AS BIGINT) AS day, m,
       CAST(len(w) AS INT) AS n_window,
       w[CAST(CEIL(0.9 * len(w)) AS INT)] AS p90_trailing,
       w[CAST(CEIL(0.5 * len(w)) AS INT)] AS p50_trailing,
       CASE WHEN m > w[CAST(CEIL(0.9 * len(w)) AS INT)] - 1e-12
                 AND len(w) = {_ROLLP_WIN} THEN 1 ELSE 0 END AS at_p90_flag
FROM win
""",
)
def q372_rolling_percentile(spark, sf_dir):
    """TRAILING SLIDING PERCENTILES (the latency-dashboard staple:
    today's value against the trailing-7-day p50/p90 — level-aware
    alerting where q267's EWMA is mean-aware and q283's CUSUM is
    shift-aware): exact rank-picked p90/p50 over a bounded trailing
    window per series, with an at-the-p90 flag.

    Scale discipline: the sliding window collects a BOUNDED (7-row)
    list per output row over calendar-bounded daily means — exact
    percentiles via ceil(tau*n) index picks into the sorted window
    (the q220 rank-pick convention in sliding form), no t-digest, no
    approximation."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(
        -(_ROLLP_WIN - 1), W.currentRow
    )
    win = daily.select(
        "event_type",
        F.col("day").cast("bigint").alias("day"),
        "m",
        F.sort_array(F.collect_list("m").over(w)).alias("w"),
    )
    n_w = F.size("w")
    p90 = F.element_at("w", F.ceil(0.9 * n_w).cast("int"))
    p50 = F.element_at("w", F.ceil(0.5 * n_w).cast("int"))
    return win.select(
        "event_type",
        "day",
        "m",
        n_w.cast("int").alias("n_window"),
        p90.alias("p90_trailing"),
        p50.alias("p50_trailing"),
        F.when(
            (F.col("m") > p90 - 1e-12) & (n_w == _ROLLP_WIN), 1
        )
        .otherwise(0)
        .alias("at_p90_flag"),
    )


_BW_ROUNDS = 3


def _bw_round_cte(r: int) -> str:
    """One Baum-Welch round as CTE text: forward/backward recursions
    parameterized by the PREVIOUS round's m{r-1} scalars (round 1 uses
    the _HMM_STAY/_HMM_EMIT literals), then xi/gamma and the M-step.
    Scalar subqueries inside the recursion are DuckDB-legal; every
    injected parameter is CAST/derived AS DOUBLE (the SCALE.md
    DECIMAL-literal rule)."""
    if r == 1:
        st = f"CAST({_HMM_STAY!r} AS DOUBLE)"
        sw = f"CAST({1.0 - _HMM_STAY!r} AS DOUBLE)"
        em = f"CAST({_HMM_EMIT!r} AS DOUBLE)"
        ms = f"CAST({1.0 - _HMM_EMIT!r} AS DOUBLE)"
    else:
        st = f"(SELECT p_stay FROM m{r - 1})"
        sw = f"(SELECT 1.0 - p_stay FROM m{r - 1})"
        em = f"(SELECT p_emit FROM m{r - 1})"
        ms = f"(SELECT 1.0 - p_emit FROM m{r - 1})"
    e0 = f"CASE WHEN r.obs = 0 THEN {em} ELSE {ms} END"
    e1 = f"CASE WHEN r.obs = 1 THEN {em} ELSE {ms} END"
    f_a0 = f"({e0}) * (w.a0 * {st} + w.a1 * {sw})"
    f_a1 = f"({e1}) * (w.a0 * {sw} + w.a1 * {st})"
    b_b0 = f"{st} * ({e0}) * w.b0 + {sw} * ({e1}) * w.b1"
    b_b1 = f"{sw} * ({e0}) * w.b0 + {st} * ({e1}) * w.b1"
    e0n = f"CASE WHEN r2.obs = 0 THEN {em} ELSE {ms} END"
    e1n = f"CASE WHEN r2.obs = 1 THEN {em} ELSE {ms} END"
    x00 = f"f.a0 * {st} * ({e0n}) * b2.b0"
    x01 = f"f.a0 * {sw} * ({e1n}) * b2.b1"
    x10 = f"f.a1 * {sw} * ({e0n}) * b2.b0"
    x11 = f"f.a1 * {st} * ({e1n}) * b2.b1"
    return f"""
fw{r} AS (
  SELECT r.event_type, r.t,
         (CAST(0.5 AS DOUBLE) * ({e0}))
           / (CAST(0.5 AS DOUBLE) * ({e0}) + CAST(0.5 AS DOUBLE) * ({e1})) AS a0,
         (CAST(0.5 AS DOUBLE) * ({e1}))
           / (CAST(0.5 AS DOUBLE) * ({e0}) + CAST(0.5 AS DOUBLE) * ({e1})) AS a1
  FROM rel r WHERE r.t = 1
  UNION ALL
  SELECT r.event_type, r.t,
         ({f_a0}) / (({f_a0}) + ({f_a1})),
         ({f_a1}) / (({f_a0}) + ({f_a1}))
  FROM fw{r} w JOIN rel r ON r.event_type = w.event_type AND r.t = w.t + 1
),
fwd{r} AS MATERIALIZED (SELECT * FROM fw{r}),
bw{r} AS (
  SELECT event_type, tmax AS t,
         CAST(0.5 AS DOUBLE) AS b0, CAST(0.5 AS DOUBLE) AS b1
  FROM nmax
  UNION ALL
  SELECT w.event_type, w.t - 1,
         ({b_b0}) / (({b_b0}) + ({b_b1})),
         ({b_b1}) / (({b_b0}) + ({b_b1}))
  FROM bw{r} w JOIN rel r ON r.event_type = w.event_type AND r.t = w.t
  WHERE w.t > 1
),
bwd{r} AS MATERIALIZED (SELECT * FROM bw{r}),
xi{r} AS MATERIALIZED (
  SELECT f.event_type, f.t,
         ROUND((({x00}) + ({x11}))
               / (({x00}) + ({x01}) + ({x10}) + ({x11})), 10) AS stay_frac
  FROM fwd{r} f
  JOIN rel r2 ON r2.event_type = f.event_type AND r2.t = f.t + 1
  JOIN bwd{r} b2 ON b2.event_type = f.event_type AND b2.t = f.t + 1
),
gam{r} AS MATERIALIZED (
  SELECT r.event_type, r.t, r.obs,
         ROUND((f.a0 * b.b0) / ((f.a0 * b.b0) + (f.a1 * b.b1)), 10) AS g0,
         ROUND((f.a1 * b.b1) / ((f.a0 * b.b0) + (f.a1 * b.b1)), 10) AS g1
  FROM rel r
  JOIN fwd{r} f ON f.event_type = r.event_type AND f.t = r.t
  JOIN bwd{r} b ON b.event_type = r.event_type AND b.t = r.t
),
m{r} AS MATERIALIZED (
  SELECT
    ROUND((SELECT CAST(SUM(CAST(stay_frac AS DECIMAL(20,10))) AS DOUBLE) FROM xi{r})
          / (SELECT COUNT(*) FROM xi{r}), 6) AS p_stay,
    ROUND((SELECT CAST(SUM(CAST(CASE WHEN obs = 0 THEN g0 ELSE g1 END
                                AS DECIMAL(20,10))) AS DOUBLE) FROM gam{r})
          / (SELECT COUNT(*) FROM gam{r}), 6) AS p_emit,
    ROUND((SELECT CAST(SUM(CAST(CASE WHEN t = 1 THEN g1 ELSE 0 END
                                AS DECIMAL(20,10))) AS DOUBLE) FROM gam{r})
          / (SELECT COUNT(DISTINCT event_type) FROM gam{r}), 6) AS pi_high
)"""


def _bw_converged_oracle_sql(k: int = _BW_ROUNDS) -> str:
    rounds = ",".join(_bw_round_cte(r) for r in range(1, k + 1))
    final = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, p_stay, p_emit, pi_high FROM m{r}"
        for r in range(1, k + 1)
    )
    return f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, day
),
med AS MATERIALIZED (
  SELECT event_type, m AS med FROM (
    SELECT event_type, m,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY m) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM daily
  ) WHERE rn = (n + 1) // 2
),
rel AS MATERIALIZED (
  SELECT d.event_type,
         ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) AS t,
         CASE WHEN d.m > x.med THEN 1 ELSE 0 END AS obs
  FROM daily d JOIN med x ON x.event_type = d.event_type
),
nmax AS MATERIALIZED (
  SELECT event_type, MAX(t) AS tmax FROM rel GROUP BY event_type
),
{rounds}
SELECT CAST(round AS INT) AS round, p_stay, p_emit, pi_high FROM ({final})
"""


@query("q376_baum_welch_converged", oracle=_bw_converged_oracle_sql())
def q376_baum_welch_converged(spark, sf_dir):
    """BAUM-WELCH TO CONVERGENCE (the r6 ROADMAP lead: q323's single
    EM update applied k=3 times, emitting the PARAMETER TRAJECTORY
    (round, p_stay, p_emit, pi_high) a monitoring dashboard plots to
    see the likelihood climb flatten): each round re-runs the
    forward-backward kernel with the PREVIOUS round's learned
    (p_stay, p_emit) — initial state stays uniform, matching the
    kernel contract — and the M-step's 6-dp-snapped scalars are the
    only driver state (the sanctioned EM-loop pattern; cf. Lloyd's in
    operators/similarity.py).

    Engine parity for an ITERATED recursion: the oracle unrolls all
    three rounds as fw/bw recursive-CTE pairs whose round-r parameters
    are scalar subqueries on m(r-1) (prototyped DuckDB-legal), every
    injected constant CAST AS DOUBLE (the SCALE.md DECIMAL-literal
    rule), so the trajectory is bit-equal after each round's single
    6-dp snap. Scale: k sequential kernel passes, each per-series
    parallel; the M-step is two DECIMAL-snapped aggregates."""
    from variantcalling_spark.operators.kernels import hmm_posterior_2state

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    ).transform(managed_persist)
    wmed = W.partitionBy("event_type").orderBy("m")
    med = (
        daily.select(
            "event_type",
            "m",
            F.row_number().over(wmed).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("event_type", F.col("m").alias("med"))
    )
    rel = daily.join(F.broadcast(med), "event_type").select(
        F.col("event_type").alias("series"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("t"),
        F.when(F.col("m") > F.col("med"), 1).otherwise(0).alias("obs"),
    ).transform(managed_persist)

    cur_stay, cur_emit = _HMM_STAY, _HMM_EMIT
    trajectory = []
    for rnd in range(1, _BW_ROUNDS + 1):
        fb = hmm_posterior_2state(rel, p_stay=cur_stay, p_emit=cur_emit).transform(
            managed_persist
        )
        st, sw = F.lit(cur_stay), F.lit(1.0 - cur_stay)
        em, ms = F.lit(cur_emit), F.lit(1.0 - cur_emit)
        nxt = fb.select(
            "series",
            (F.col("t") - 1).alias("t"),
            F.col("obs").alias("obs2"),
            F.col("b0").alias("nb0"),
            F.col("b1").alias("nb1"),
        )
        e0n = F.when(F.col("obs2") == 0, em).otherwise(ms)
        e1n = F.when(F.col("obs2") == 1, em).otherwise(ms)
        x00 = F.col("a0") * st * e0n * F.col("nb0")
        x01 = F.col("a0") * sw * e1n * F.col("nb1")
        x10 = F.col("a1") * sw * e0n * F.col("nb0")
        x11 = F.col("a1") * st * e1n * F.col("nb1")
        xi = fb.join(nxt, ["series", "t"]).select(
            F.round((x00 + x11) / (x00 + x01 + x10 + x11), 10).alias("stay_frac")
        )
        g0 = F.col("a0") * F.col("b0")
        g1 = F.col("a1") * F.col("b1")
        gam = fb.select(
            "series",
            "t",
            "obs",
            F.round(g0 / (g0 + g1), 10).alias("g0"),
            F.round(g1 / (g0 + g1), 10).alias("g1"),
        )
        row = (
            xi.agg(
                F.round(
                    F.sum(F.col("stay_frac").cast("decimal(20,10)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("p_stay")
            )
            .crossJoin(
                F.broadcast(
                    gam.agg(
                        F.round(
                            F.sum(
                                F.when(F.col("obs") == 0, F.col("g0"))
                                .otherwise(F.col("g1"))
                                .cast("decimal(20,10)")
                            ).cast("double")
                            / F.count(F.lit(1)),
                            6,
                        ).alias("p_emit"),
                        F.round(
                            F.sum(
                                F.when(F.col("t") == 1, F.col("g1"))
                                .otherwise(F.lit(0.0))
                                .cast("decimal(20,10)")
                            ).cast("double")
                            / F.count_distinct(F.col("series")),
                            6,
                        ).alias("pi_high"),
                    )
                )
            )
            .collect()[0]
        )
        trajectory.append((rnd, row.p_stay, row.p_emit, row.pi_high))
        cur_stay, cur_emit = row.p_stay, row.p_emit
    return spark.createDataFrame(
        trajectory, "round int, p_stay double, p_emit double, pi_high double"
    )


def _motif_chain_oracle_sql(w: int = _MP_W) -> str:
    return f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         CAST(ROUND(ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                          / COUNT(*), 6) * 1000000) AS BIGINT) AS mi
  FROM events GROUP BY event_type, day
),
rel AS MATERIALIZED (
  SELECT event_type, mi,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
win AS (SELECT event_type, rn AS i FROM rel WHERE rn <= n - {w - 1}),
pairs AS (
  SELECT a.event_type, a.i, b.i AS j
  FROM win a JOIN win b ON a.event_type = b.event_type AND b.i >= a.i + {w}
),
dists AS MATERIALIZED (
  SELECT p.event_type, p.i, p.j,
         CAST(SUM((ra.mi - rb.mi) * (ra.mi - rb.mi)) AS BIGINT) AS d2
  FROM pairs p
  CROSS JOIN (SELECT unnest(generate_series(0, {w - 1})) AS o) os
  JOIN rel ra ON ra.event_type = p.event_type AND ra.rn = p.i + os.o
  JOIN rel rb ON rb.event_type = p.event_type AND rb.rn = p.j + os.o
  GROUP BY p.event_type, p.i, p.j
),
rnn AS (
  SELECT event_type, i, j FROM (
    SELECT event_type, i, j,
           ROW_NUMBER() OVER (PARTITION BY event_type, i ORDER BY d2, j) AS rk
    FROM dists
  ) WHERE rk = 1
),
lnn AS (
  SELECT event_type, i, j FROM (
    SELECT event_type, i, j,
           ROW_NUMBER() OVER (PARTITION BY event_type, j ORDER BY d2, i) AS rk
    FROM dists
  ) WHERE rk = 1
),
edges AS MATERIALIZED (
  SELECT r.event_type, r.i, r.j
  FROM rnn r JOIN lnn l
    ON l.event_type = r.event_type AND l.j = r.j AND l.i = r.i
),
anchors AS (
  SELECT event_type, i FROM edges e
  WHERE NOT EXISTS (SELECT 1 FROM edges x
                    WHERE x.event_type = e.event_type AND x.j = e.i)
),
walk AS (
  SELECT event_type, i AS start, i AS cur, 1 AS len FROM anchors
  UNION ALL
  SELECT w2.event_type, w2.start, e.j, w2.len + 1
  FROM walk w2 JOIN edges e
    ON e.event_type = w2.event_type AND e.i = w2.cur
),
chains AS (
  SELECT event_type, start, MAX(cur) AS chain_end, MAX(len) AS len
  FROM walk GROUP BY event_type, start
),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_chains
  FROM chains GROUP BY event_type
),
best AS (
  SELECT event_type, CAST(len AS BIGINT) AS longest_len,
         CAST(start AS BIGINT) AS chain_start,
         CAST(chain_end AS BIGINT) AS chain_end
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY event_type ORDER BY len DESC, start) AS rk
    FROM chains
  ) WHERE rk = 1
)
SELECT a.event_type, a.n_chains, b.longest_len, b.chain_start, b.chain_end
FROM agg a JOIN best b USING (event_type)
"""


@query("q377_motif_chains", oracle=_motif_chain_oracle_sql())
def q377_motif_chains(spark, sf_dir):
    """Memoized face of :func:`_build_q377` — junction localCheckpoints
    cut the static plan 682 -> ~30 Exchange nodes (rel/dists/edges each
    feed 2+ consumers whose cached subtrees otherwise re-inline
    recursively), and the session memo keeps re-invocations on the
    materialized checkpoint blocks (variantcalling_spark/_memo.py)."""
    from variantcalling_spark._memo import memoized

    return memoized("q377", spark, sf_dir, lambda: _build_q377(spark, sf_dir))


def _build_q377(spark, sf_dir):
    """TIME-SERIES MOTIF CHAINS (Zhu et al. 2017 — the r6 ROADMAP
    lead: directed evolution patterns on q334's matrix-profile
    substrate): a chain links window i to j iff j is i's RIGHT
    nearest neighbor AND i is j's LEFT nearest neighbor (mutual
    consistency makes the edges vertex-disjoint paths); per series,
    the chain count and the longest chain's span — drift made
    structural, where q334's motif is a single repeated shape.

    Scale discipline: the distance table is q334's series-bounded
    offset-spine equi-join; left/right NN are windows over
    (series, window) partitions; chains = connected components of the
    disjoint-path edge set via the O(log n) star contraction
    (operators/dedup.py — reused, not re-derived), so chain depth
    never becomes a round count. The ORACLE walks the same chains
    with a recursive CTE from the anchors. Node encoding: series
    codes from the tiny event-type domain x 100000 + window index."""
    from variantcalling_spark.operators.dedup import connected_components

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.expr(
            "CAST(ROUND(ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)"
            " / COUNT(*), 6) * 1000000) AS BIGINT)"
        ).alias("mi")
    )
    rel = daily.select(
        "event_type",
        "mi",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
    ).transform(lineage_cut)
    win = rel.where(F.col("rn") <= F.col("n") - (_MP_W - 1)).select(
        "event_type", F.col("rn").alias("i")
    )
    pairs = win.join(
        win.select("event_type", F.col("i").alias("j")), "event_type"
    ).where(F.col("j") >= F.col("i") + _MP_W)
    os_ = spark.range(0, _MP_W).select(F.col("id").alias("o"))
    dists = (
        pairs.crossJoin(F.broadcast(os_))
        .withColumn("rna", F.col("i") + F.col("o"))
        .withColumn("rnb", F.col("j") + F.col("o"))
        .join(
            rel.select("event_type", F.col("rn").alias("rna"), F.col("mi").alias("ma")),
            ["event_type", "rna"],
        )
        .join(
            rel.select("event_type", F.col("rn").alias("rnb"), F.col("mi").alias("mb")),
            ["event_type", "rnb"],
        )
        .groupBy("event_type", "i", "j")
        .agg(
            F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")))
            .cast("bigint")
            .alias("d2")
        )
        .transform(lineage_cut)
    )
    rnn = (
        dists.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("event_type", "i").orderBy("d2", "j")
            ),
        )
        .where(F.col("rk") == 1)
        .select("event_type", "i", "j")
    )
    lnn = (
        dists.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("event_type", "j").orderBy("d2", "i")
            ),
        )
        .where(F.col("rk") == 1)
        .select("event_type", F.col("i").alias("li"), F.col("j").alias("lj"))
    )
    edges = (
        rnn.alias("r")
        .join(
            lnn.alias("l"),
            (F.col("r.event_type") == F.col("l.event_type"))
            & (F.col("r.j") == F.col("l.lj"))
            & (F.col("r.i") == F.col("l.li")),
        )
        .select("r.event_type", "r.i", "r.j")
        .transform(lineage_cut)
    )
    # tiny series-code table (event-type domain) for integer node ids
    codes = (
        edges.select("event_type")
        .distinct()
        .select(
            "event_type",
            (F.row_number().over(W.orderBy("event_type")) * 100000).alias("base"),
        )
    )
    enc = edges.join(F.broadcast(codes), "event_type").select(
        "event_type",
        "i",
        "j",
        (F.col("base") + F.col("i")).alias("doc_a"),
        (F.col("base") + F.col("j")).alias("doc_b"),
    )
    comp = connected_components(enc.select("doc_a", "doc_b"))
    nodes = enc.select(
        "event_type", F.col("doc_a").alias("node"), F.col("i").alias("ix")
    ).unionByName(
        enc.select(
            "event_type", F.col("doc_b").alias("node"), F.col("j").alias("ix")
        )
    ).distinct()
    chains = (
        nodes.join(comp, "node")
        .groupBy("event_type", "label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("len"),
            F.min("ix").alias("start"),
            F.max("ix").alias("chain_end"),
        )
    )
    best = F.max(
        F.struct(F.col("len"), (-F.col("start")).alias("ns"), F.col("chain_end"))
    ).alias("b")
    return chains.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chains"),
        best,
    ).select(
        "event_type",
        "n_chains",
        F.col("b.len").cast("bigint").alias("longest_len"),
        (-F.col("b.ns")).cast("bigint").alias("chain_start"),
        F.col("b.chain_end").cast("bigint").alias("chain_end"),
    )


@query(
    "q381_cox_score_test",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t1,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY user_id
),
horizon AS (SELECT MAX(epoch_us(ts)) AS tmax FROM events),
subj AS (
  SELECT user_id, x,
         CASE WHEN t1 IS NOT NULL AND t1 > t0
              THEN (t1 - t0) // {DAY_US} ELSE (h.tmax - t0) // {DAY_US} END
           AS dur,
         CASE WHEN t1 IS NOT NULL AND t1 > t0 THEN 1 ELSE 0 END AS observed
  FROM per_user CROSS JOIN horizon h
  WHERE t0 IS NOT NULL
),
h AS (
  SELECT dur,
         CAST(SUM(observed) AS BIGINT) AS d,
         CAST(SUM(observed * x) AS BIGINT) AS sx_ev,
         CAST(COUNT(*) AS BIGINT) AS leaving,
         CAST(SUM(x) AS BIGINT) AS sx_all,
         CAST(SUM(x * x) AS BIGINT) AS sxx_all
  FROM subj GROUP BY dur
),
rk AS (
  SELECT dur, d, sx_ev,
         CAST(SUM(leaving) OVER w AS BIGINT) AS n_r,
         CAST(SUM(sx_all) OVER w AS BIGINT) AS sx_r,
         CAST(SUM(sxx_all) OVER w AS BIGINT) AS sxx_r
  FROM h
  WINDOW w AS (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
terms AS (
  SELECT
    CAST(ROUND(sx_ev - d * (sx_r / CAST(n_r AS DOUBLE)), 8) AS DECIMAL(26,8)) AS u_t,
    CAST(ROUND(d * (sxx_r / CAST(n_r AS DOUBLE)
                    - (sx_r / CAST(n_r AS DOUBLE)) * (sx_r / CAST(n_r AS DOUBLE))), 8)
         AS DECIMAL(26,8)) AS v_t
  FROM rk WHERE d > 0 AND n_r > 1
),
tot AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM subj) AS n_subjects,
         (SELECT CAST(SUM(observed) AS BIGINT) FROM subj) AS n_events,
         CAST(SUM(u_t) AS DOUBLE) AS u_score,
         CAST(SUM(v_t) AS DOUBLE) AS v_var
  FROM terms
)
SELECT n_subjects, n_events,
       ROUND(u_score, 6) AS u_score, ROUND(v_var, 6) AS v_var,
       ROUND(u_score * u_score / v_var, 6) AS chi2
FROM tot
""",
)
def q381_cox_score_test(spark, sf_dir):
    """COX PROPORTIONAL-HAZARDS SCORE TEST at beta=0 (the log-rank
    test generalized to a CONTINUOUS covariate — does per-user
    activity level predict signup->purchase hazard? — the survival
    family's regression member beside q206 KM / q245 log-rank / q286
    Nelson-Aalen): Breslow-tie score U = sum over event times of
    (event covariate sum - d * risk-set mean), variance V = sum of
    d * risk-set covariate variance, chi2 = U^2/V.

    Scale discipline: risk-set covariate moments (n, sum x, sum x^2)
    come from ONE descending cumulative window over the integer-day
    duration histogram (the q206 shape — value-domain-sized, never
    subject x time); the covariate is an exact BIGINT count, so every
    risk-set moment is exact and each time's U/V term is one IEEE
    expression snapped at 8 dp into the DECIMAL total."""
    ev = events_points(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_us"))).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_us"))).alias("t1"),
        F.count(F.lit(1)).cast("bigint").alias("x"),
    )
    horizon = ev.agg(F.max("ts_us").alias("tmax"))
    observed = F.col("t1").isNotNull() & (F.col("t1") > F.col("t0"))
    subj = (
        per_user.where(F.col("t0").isNotNull())
        .crossJoin(F.broadcast(horizon))
        .select(
            "x",
            F.when(observed, F.expr(f"(t1 - t0) DIV {DAY_US}"))
            .otherwise(F.expr(f"(tmax - t0) DIV {DAY_US}"))
            .alias("dur"),
            F.when(observed, 1).otherwise(0).alias("observed"),
        )
        .transform(managed_persist)
    )
    h = subj.groupBy("dur").agg(
        F.sum("observed").cast("bigint").alias("d"),
        F.sum(F.col("observed") * F.col("x")).cast("bigint").alias("sx_ev"),
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
        F.sum("x").cast("bigint").alias("sx_all"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx_all"),
    )
    wdesc = W.orderBy(F.desc("dur")).rowsBetween(W.unboundedPreceding, 0)
    rk = h.select(
        "dur",
        "d",
        "sx_ev",
        F.sum("leaving").over(wdesc).cast("bigint").alias("n_r"),
        F.sum("sx_all").over(wdesc).cast("bigint").alias("sx_r"),
        F.sum("sxx_all").over(wdesc).cast("bigint").alias("sxx_r"),
    )
    mean_r = F.col("sx_r") / F.col("n_r").cast("double")
    u_t = F.round(F.col("sx_ev") - F.col("d") * mean_r, 8).cast("decimal(26,8)")
    v_t = F.round(
        F.col("d")
        * (F.col("sxx_r") / F.col("n_r").cast("double") - mean_r * mean_r),
        8,
    ).cast("decimal(26,8)")
    terms = rk.where((F.col("d") > 0) & (F.col("n_r") > 1)).select(
        u_t.alias("u_t"), v_t.alias("v_t")
    )
    counts = subj.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_subjects"),
        F.sum("observed").cast("bigint").alias("n_events"),
    )
    tot = terms.agg(
        F.sum("u_t").cast("double").alias("u_score"),
        F.sum("v_t").cast("double").alias("v_var"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "n_subjects",
        "n_events",
        F.round("u_score", 6).alias("u_score"),
        F.round("v_var", 6).alias("v_var"),
        F.round(
            F.col("u_score") * F.col("u_score") / F.col("v_var"), 6
        ).alias("chi2"),
    )


_PH_DELTA = 0.1
_PH_LAMBDA = 10.0


@query(
    "q382_page_hinkley",
    oracle=f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, day
),
rel AS MATERIALIZED (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
         m AS x
  FROM daily
),
ph AS (
  SELECT event_type, t, x,
         x AS cum,
         x - (x / 1) - CAST({_PH_DELTA!r} AS DOUBLE) AS ph_m,
         LEAST(CAST(0 AS DOUBLE),
               x - (x / 1) - CAST({_PH_DELTA!r} AS DOUBLE)) AS ph_min
  FROM rel WHERE t = 1
  UNION ALL
  SELECT r.event_type, r.t, r.x,
         p.cum + r.x,
         p.ph_m + (r.x - (p.cum + r.x) / r.t - CAST({_PH_DELTA!r} AS DOUBLE)),
         LEAST(p.ph_min,
               p.ph_m + (r.x - (p.cum + r.x) / r.t
                         - CAST({_PH_DELTA!r} AS DOUBLE)))
  FROM ph p JOIN rel r ON r.event_type = p.event_type AND r.t = p.t + 1
)
SELECT event_type, CAST(t AS BIGINT) AS t,
       ROUND(ph_m, 6) AS ph_m,
       ROUND(ph_m - ph_min, 6) AS excess,
       (ph_m - ph_min) > CAST({_PH_LAMBDA!r} AS DOUBLE) AS alarm
FROM ph
""",
)
def q382_page_hinkley(spark, sf_dir):
    """PAGE-HINKLEY MEAN-SHIFT MONITOR per metric series (the
    sequential drift detector production monitors run where q197's
    CUSUM is the batch retrospective — and the sequential-kernel
    family's monitoring member beside Holt q302 / Viterbi q315 /
    conformal q331): the running statistic m_t accumulates deviations
    from the RUNNING mean (drift allowance delta), the alarm is its
    excess over the running minimum clearing lambda.

    Engine parity: the kernel emits EVERY per-step state row and the
    recursive-CTE oracle replays the identical add/divide shapes (no
    intermediate rounding; the q302 discipline), so the whole walk is
    bit-equal before the output rounds. Scale: per-series sequential
    over CALENDAR-BOUNDED daily means; series are independent
    (applyInPandas, hash-partitioned by series)."""
    from variantcalling_spark.operators.kernels import page_hinkley_scan

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    )
    rel = daily.select(
        F.col("event_type").alias("series"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("t"),
        "m",
    )
    out = page_hinkley_scan(rel, delta=_PH_DELTA)
    return out.select(
        F.col("series").alias("event_type"),
        "t",
        F.round("ph_m", 6).alias("ph_m"),
        F.round("excess", 6).alias("excess"),
        (F.col("excess") > F.lit(_PH_LAMBDA)).alias("alarm"),
    )


@query(
    "q383_cmh_test",
    oracle="""
WITH obs AS (
  SELECT event_type AS stratum,
         CAST(user_id % 2 AS INT) AS exposed,
         CASE WHEN CAST(value AS DECIMAL(12,2)) > 20 THEN 1 ELSE 0 END AS outcome
  FROM events
),
cells AS (
  SELECT stratum,
         CAST(SUM(CASE WHEN exposed = 1 AND outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN exposed = 1 AND outcome = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN exposed = 0 AND outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN exposed = 0 AND outcome = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM obs GROUP BY stratum
),
terms AS (
  SELECT a,
         CAST(ROUND((a + b) * (a + c) / CAST(a + b + c + d AS DOUBLE), 10)
              AS DECIMAL(26,10)) AS e_i,
         CAST(ROUND((a + b) * (c + d) * (a + c) * (b + d)
                    / (CAST(a + b + c + d AS DOUBLE)
                       * (a + b + c + d) * (a + b + c + d - 1)), 10)
              AS DECIMAL(26,10)) AS v_i,
         CAST(ROUND(a * d / CAST(a + b + c + d AS DOUBLE), 10)
              AS DECIMAL(26,10)) AS ad_t,
         CAST(ROUND(b * c / CAST(a + b + c + d AS DOUBLE), 10)
              AS DECIMAL(26,10)) AS bc_t
  FROM cells WHERE a + b + c + d > 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
       CAST(SUM(a) AS BIGINT) AS sum_a,
       ROUND(CAST(SUM(e_i) AS DOUBLE), 6) AS sum_e,
       ROUND((SUM(a) - CAST(SUM(e_i) AS DOUBLE))
             * (SUM(a) - CAST(SUM(e_i) AS DOUBLE))
             / CAST(SUM(v_i) AS DOUBLE), 6) AS cmh_chi2,
       ROUND(CAST(SUM(ad_t) AS DOUBLE) / CAST(SUM(bc_t) AS DOUBLE), 6)
         AS or_mh
FROM terms
""",
)
def q383_cmh_test(spark, sf_dir):
    """COCHRAN-MANTEL-HAENSZEL TEST + MH COMMON ODDS RATIO (the
    stratified 2x2 association test — 'does exposure predict outcome
    after controlling for the stratum confounder?' — epidemiology's
    pooled test and the categorical sibling of q317's direct
    standardization; completes the association family beside q285's
    trend test and q163's chi-square independence): per-stratum 2x2
    cells, hypergeometric E_i/V_i, chi2 = (sum a - sum E)^2 / sum V
    (no continuity correction, stated), and OR_MH =
    sum(ad/T) / sum(bc/T).

    Scale discipline: ONE map-side-combinable conditional aggregate
    to the stratum-bounded cell table; per-stratum terms snap at 10 dp
    into DECIMAL sums so the pooled statistics are order-independent;
    counts stay exact BIGINTs."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        F.col("event_type").alias("stratum"),
        (F.col("user_id") % 2).cast("int").alias("exposed"),
        F.when(dec("value") > 20, 1).otherwise(0).alias("outcome"),
    )
    cells = obs.groupBy("stratum").agg(
        F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 1), 1).otherwise(0))
        .cast("bigint").alias("a"),
        F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 0), 1).otherwise(0))
        .cast("bigint").alias("b"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 1), 1).otherwise(0))
        .cast("bigint").alias("c"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 0), 1).otherwise(0))
        .cast("bigint").alias("d"),
    )
    t_ = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    ti = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    e_i = F.round((F.col("a") + F.col("b")) * (F.col("a") + F.col("c")) / t_, 10).cast(
        "decimal(26,10)"
    )
    v_i = F.round(
        (F.col("a") + F.col("b"))
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
        / (t_ * ti * (ti - 1)),
        10,
    ).cast("decimal(26,10)")
    ad_t = F.round(F.col("a") * F.col("d") / t_, 10).cast("decimal(26,10)")
    bc_t = F.round(F.col("b") * F.col("c") / t_, 10).cast("decimal(26,10)")
    terms = cells.where(ti > 1).select(
        "a", e_i.alias("e_i"), v_i.alias("v_i"), ad_t.alias("ad_t"), bc_t.alias("bc_t")
    )
    diff = F.sum("a") - F.sum("e_i").cast("double")
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.round(F.sum("e_i").cast("double"), 6).alias("sum_e"),
        F.round(diff * diff / F.sum("v_i").cast("double"), 6).alias("cmh_chi2"),
        F.round(
            F.sum("ad_t").cast("double") / F.sum("bc_t").cast("double"), 6
        ).alias("or_mh"),
    )


@query(
    "q388_dau_mau_stickiness",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
  FROM events
),
days AS (SELECT DISTINCT day FROM ud),
dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
mau AS (
  SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau
  FROM days d JOIN ud u ON u.day BETWEEN d.day - 27 AND d.day
  GROUP BY d.day
)
SELECT CAST(d.day AS BIGINT) AS day, dau.dau, mau.mau,
       ROUND(dau.dau / CAST(mau.mau AS DOUBLE), 6) AS stickiness
FROM days d JOIN dau USING (day) JOIN mau ON mau.day = d.day
""",
)
def q388_dau_mau_stickiness(spark, sf_dir):
    """DAU/MAU STICKINESS (the product-analytics engagement ratio:
    today's active users over the trailing-28-day actives — the
    denominator is a DISTINCT count over a sliding window, which no
    window function computes exactly; joins the warehouse family
    q192/q274 retention and q179 sessionization): per day, DAU, MAU,
    and the ratio.

    Scale discipline: events dedup ONCE to the (user, day) ledger
    (one shuffle); the trailing-28 distinct count is a range join of
    that ledger against the CALENDAR-BOUNDED day spine + a distinct
    aggregate — cost |ud| x <=28, never user x day x day. At 100 TB
    the ledger join stays day-partitioned; nothing single-partitions."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).distinct().transform(managed_persist)
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    mau = (
        days.alias("d")
        .join(
            ud.alias("u"),
            (F.col("u.day") >= F.col("d.day") - 27)
            & (F.col("u.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").cast("bigint").alias("mau"))
    )
    return (
        days.join(dau, "day")
        .join(mau, "day")
        .select(
            F.col("day").cast("bigint").alias("day"),
            "dau",
            "mau",
            F.round(F.col("dau") / F.col("mau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
    )


@query(
    "q391_mutual_information",
    oracle="""
WITH base AS (
  SELECT event_type AS y,
         CAST(FLOOR(CAST(value AS DECIMAL(12,2)) / 50) AS BIGINT) AS f_value,
         (epoch_ns(ts) // 3600000000000) % 24 // 6 AS f_daypart,
         ((epoch_ns(ts) // 86400000000000) + 3) % 7 AS f_weekday
  FROM events
),
feats AS (
  SELECT 'value_bin' AS feature, f_value AS x, y FROM base
  UNION ALL SELECT 'daypart', f_daypart, y FROM base
  UNION ALL SELECT 'weekday', f_weekday, y FROM base
),
cxy AS (SELECT feature, x, y, CAST(COUNT(*) AS BIGINT) AS nxy
        FROM feats GROUP BY feature, x, y),
cx AS (SELECT feature, x, CAST(SUM(nxy) AS BIGINT) AS nx
       FROM cxy GROUP BY feature, x),
cy AS (SELECT feature, y, CAST(SUM(nxy) AS BIGINT) AS ny
       FROM cxy GROUP BY feature, y),
n AS (SELECT feature, CAST(SUM(nxy) AS BIGINT) AS n FROM cxy GROUP BY feature),
terms AS (
  SELECT cxy.feature,
         CAST(ROUND((nxy / CAST(n.n AS DOUBLE))
                    * ln((CAST(nxy AS DOUBLE) * n.n)
                         / (CAST(cx.nx AS DOUBLE) * cy.ny)), 12)
              AS DECIMAL(20,12)) AS t
  FROM cxy
  JOIN cx ON cx.feature = cxy.feature AND cx.x = cxy.x
  JOIN cy ON cy.feature = cxy.feature AND cy.y = cxy.y
  JOIN n ON n.feature = cxy.feature
)
SELECT feature,
       ROUND(CAST(SUM(t) AS DOUBLE), 6) AS mutual_information
FROM terms GROUP BY feature
""",
)
def q391_mutual_information(spark, sf_dir):
    """MUTUAL INFORMATION FEATURE RANKING (the filter-method feature
    selector: I(X;Y) = sum p(x,y) ln(p(x,y)/(p(x)p(y))) between each
    candidate feature and the event-type label — which engineered
    feature carries signal, the information-theoretic sibling of
    q316's impurity split and q277's ANOVA F): three bounded-domain
    features (50-unit value bins, 6-hour dayparts, weekdays) scored in
    one pass.

    Scale discipline: each feature's joint table is ONE map-side-
    combinable aggregate over bounded (bin x label) cells; marginals
    re-aggregate the cells (never the rows); per-cell terms snap at
    12 dp into a DECIMAL sum — order-independent exact-int counts
    throughout."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("y"),
        F.floor(dec("value") / 50).cast("bigint").alias("f_value"),
        F.expr("(ts_ns DIV 3600000000000) % 24 DIV 6").alias("f_daypart"),
        F.expr("((ts_ns DIV 86400000000000) + 3) % 7").alias("f_weekday"),
    )
    feats = None
    for name, col in (
        ("value_bin", "f_value"),
        ("daypart", "f_daypart"),
        ("weekday", "f_weekday"),
    ):
        part = base.select(
            F.lit(name).alias("feature"), F.col(col).alias("x"), "y"
        )
        feats = part if feats is None else feats.unionByName(part)
    cxy = feats.groupBy("feature", "x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("nxy")
    ).transform(managed_persist)
    cx = cxy.groupBy("feature", "x").agg(F.sum("nxy").cast("bigint").alias("nx"))
    cy = cxy.groupBy("feature", "y").agg(F.sum("nxy").cast("bigint").alias("ny"))
    n = cxy.groupBy("feature").agg(F.sum("nxy").cast("bigint").alias("n"))
    t = F.round(
        (F.col("nxy") / F.col("n").cast("double"))
        * F.log(
            (F.col("nxy").cast("double") * F.col("n"))
            / (F.col("nx").cast("double") * F.col("ny"))
        ),
        12,
    ).cast("decimal(20,12)")
    terms = (
        cxy.join(F.broadcast(cx), ["feature", "x"])
        .join(F.broadcast(cy), ["feature", "y"])
        .join(F.broadcast(n), "feature")
        .select("feature", t.alias("t"))
    )
    return terms.groupBy("feature").agg(
        F.round(F.sum("t").cast("double"), 6).alias("mutual_information")
    )


@query(
    "q402_lis_trend",
    oracle="""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, day
),
rel AS MATERIALIZED (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
         m AS x,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
pat AS (
  SELECT event_type, t, n, [x] AS tails
  FROM rel WHERE t = 1
  UNION ALL
  -- patience step: replace the FIRST tail >= x with x (strict LIS),
  -- or append when every tail < x; pos = |{tails < x}| + 1
  SELECT r.event_type, r.t, p.n,
         CASE WHEN len(list_filter(p.tails, v -> v < r.x)) = len(p.tails)
              THEN list_append(p.tails, r.x)
              ELSE list_concat(
                     list_concat(
                       p.tails[1:len(list_filter(p.tails, v -> v < r.x))],
                       [r.x]),
                     p.tails[len(list_filter(p.tails, v -> v < r.x)) + 2:])
         END
  FROM pat p JOIN rel r ON r.event_type = p.event_type AND r.t = p.t + 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_obs,
       CAST(len(tails) AS BIGINT) AS lis_len,
       ROUND(len(tails) / CAST(n AS DOUBLE), 6) AS trend_persistence
FROM pat WHERE t = n
""",
)
def q402_lis_trend(spark, sf_dir):
    """LONGEST STRICTLY-INCREASING SUBSEQUENCE per metric series
    (patience algorithm — LIS/n is the classic trend-persistence
    statistic beside q310's Mann-Kendall: a monotone series scores 1,
    i.i.d. noise ~2*sqrt(n)/n): per-series O(n log n) patience kernel;
    the ORACLE replays the EXACT pile-tail ARRAY STATE through a
    recursive CTE (list_filter/list_concat per step) — a new oracle
    shape: array-valued recursion state, value-pinning every
    intermediate tails vector, not just the final length.

    Scale: per-series sequential over calendar-bounded dailies
    (applyInPandas, series parallel); comparisons on 6-dp-snapped
    doubles are engine-exact."""
    import bisect

    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    )
    rel = daily.select(
        F.col("event_type").alias("series"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("t"),
        "m",
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t", kind="mergesort")
        tails: list[float] = []
        for x in pdf["m"]:
            x = float(x)
            pos = bisect.bisect_left(tails, x)
            if pos == len(tails):
                tails.append(x)
            else:
                tails[pos] = x
        n = len(pdf)
        return pd.DataFrame(
            {
                "event_type": [pdf["series"].iloc[0]],
                "n_obs": [n],
                "lis_len": [len(tails)],
                "trend_persistence": [round(len(tails) / n, 6)],
            }
        )

    return rel.groupBy("series").applyInPandas(
        per_series,
        schema="event_type string, n_obs long, lis_len long, trend_persistence double",
    )


@query(
    "q404_iptw_ate",
    oracle="""
WITH obs AS (
  SELECT event_type AS stratum,
         CAST(user_id % 2 AS INT) AS treated,
         CAST(value AS DECIMAL(12,2)) AS y
  FROM events
),
strata AS (
  SELECT stratum,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(treated) AS BIGINT) AS n_t,
         ROUND(SUM(treated) / CAST(COUNT(*) AS DOUBLE), 10) AS p
  FROM obs GROUP BY stratum
),
w AS (
  SELECT o.stratum, o.treated, o.y,
         CASE WHEN o.treated = 1 THEN 1.0 / s.p
              ELSE 1.0 / (1.0 - s.p) END AS wt
  FROM obs o JOIN strata s ON s.stratum = o.stratum
  WHERE s.p > 0 AND s.p < 1
),
sums AS (
  SELECT
    CAST(SUM(CAST(ROUND(CASE WHEN treated = 1 THEN wt * y END, 8)
                  AS DECIMAL(26,8))) AS DOUBLE) AS t_wy,
    CAST(SUM(CAST(ROUND(CASE WHEN treated = 1 THEN wt END, 8)
                  AS DECIMAL(26,8))) AS DOUBLE) AS t_w,
    CAST(SUM(CAST(ROUND(CASE WHEN treated = 0 THEN wt * y END, 8)
                  AS DECIMAL(26,8))) AS DOUBLE) AS c_wy,
    CAST(SUM(CAST(ROUND(CASE WHEN treated = 0 THEN wt END, 8)
                  AS DECIMAL(26,8))) AS DOUBLE) AS c_w,
    CAST(COUNT(*) AS BIGINT) AS n_used
  FROM w
)
SELECT n_used,
       ROUND(t_wy / t_w, 6) AS mu_treated,
       ROUND(c_wy / c_w, 6) AS mu_control,
       ROUND(t_wy / t_w - c_wy / c_w, 6) AS ate_iptw
FROM sums
""",
)
def q404_iptw_ate(spark, sf_dir):
    """STRATIFIED IPTW AVERAGE TREATMENT EFFECT (inverse-propensity
    weighting with EXACT stratum-level propensities — the
    observational-causal estimator beside q265's CUPED variance
    reduction, q317's direct standardization and q348's QTE: weight
    each unit by 1/P(its own arm | stratum), so confounded strata stop
    biasing the arm means; Hajek-normalized): stratum propensities
    from one aggregate, weighted arm means, ATE.

    Exactness: propensities snap at 10 dp; per-row weighted terms snap
    at 8 dp into DECIMAL sums (order-independent); degenerate strata
    (p = 0 or 1) are excluded on both engines. Two passes: one
    stratum aggregate + one weighted scan."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        F.col("event_type").alias("stratum"),
        (F.col("user_id") % 2).cast("int").alias("treated"),
        dec("value").alias("y"),
    )
    strata = obs.groupBy("stratum").agg(
        F.round(
            F.sum("treated") / F.count(F.lit(1)).cast("double"), 10
        ).alias("p")
    )
    w = (
        obs.join(F.broadcast(strata), "stratum")
        .where((F.col("p") > 0) & (F.col("p") < 1))
        .select(
            "treated",
            "y",
            F.when(F.col("treated") == 1, 1.0 / F.col("p"))
            .otherwise(1.0 / (1.0 - F.col("p")))
            .alias("wt"),
        )
    )

    def dsum(cond_col):
        return F.sum(F.round(cond_col, 8).cast("decimal(26,8)")).cast("double")

    sums = w.agg(
        dsum(F.when(F.col("treated") == 1, F.col("wt") * F.col("y"))).alias("t_wy"),
        dsum(F.when(F.col("treated") == 1, F.col("wt"))).alias("t_w"),
        dsum(F.when(F.col("treated") == 0, F.col("wt") * F.col("y"))).alias("c_wy"),
        dsum(F.when(F.col("treated") == 0, F.col("wt"))).alias("c_w"),
        F.count(F.lit(1)).cast("bigint").alias("n_used"),
    )
    return sums.select(
        "n_used",
        F.round(F.col("t_wy") / F.col("t_w"), 6).alias("mu_treated"),
        F.round(F.col("c_wy") / F.col("c_w"), 6).alias("mu_control"),
        F.round(
            F.col("t_wy") / F.col("t_w") - F.col("c_wy") / F.col("c_w"), 6
        ).alias("ate_iptw"),
    )


@query(
    "q407_simpson_paradox",
    oracle="""
WITH obs AS (
  SELECT event_type AS stratum,
         CAST(user_id % 2 AS INT) AS exposed,
         CASE WHEN CAST(value AS DECIMAL(12,2)) > 20 THEN 1 ELSE 0 END AS outcome
  FROM events
),
cells AS (
  SELECT stratum,
         CAST(SUM(CASE WHEN exposed = 1 AND outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN exposed = 1 AND outcome = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN exposed = 0 AND outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN exposed = 0 AND outcome = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM obs GROUP BY stratum
),
pooled AS (
  SELECT CAST(SUM(a) AS BIGINT) AS a, CAST(SUM(b) AS BIGINT) AS b,
         CAST(SUM(c) AS BIGINT) AS c, CAST(SUM(d) AS BIGINT) AS d
  FROM cells
)
SELECT s.stratum,
       ROUND(s.a * s.d / (CAST(s.b AS DOUBLE) * s.c), 6) AS stratum_or,
       ROUND(p.a * p.d / (CAST(p.b AS DOUBLE) * p.c), 6) AS pooled_or,
       (s.a * s.d > s.b * s.c) <> (p.a * p.d > p.b * p.c) AS direction_flip
FROM cells s CROSS JOIN pooled p
WHERE s.b > 0 AND s.c > 0
""",
)
def q407_simpson_paradox(spark, sf_dir):
    """SIMPSON'S-PARADOX DETECTOR (the aggregation-reversal audit every
    cohort dashboard needs: does the exposure-outcome association
    FLIP DIRECTION between any stratum and the pooled table? — the
    diagnostic companion of q383's CMH pooling, which is only valid
    when it does NOT flip): per-stratum odds ratios, the pooled odds
    ratio, and an exact integer-cross-product direction-flip flag per
    stratum (no float comparison decides the flag).

    Scale shape: the same ONE conditional aggregate as q383; pooled
    cells re-aggregate the stratum ledger; the flag is pure
    arithmetic. Degenerate strata (zero off-diagonal) excluded on both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        F.col("event_type").alias("stratum"),
        (F.col("user_id") % 2).cast("int").alias("exposed"),
        F.when(dec("value") > 20, 1).otherwise(0).alias("outcome"),
    )
    cells = obs.groupBy("stratum").agg(
        F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 1), 1).otherwise(0))
        .cast("bigint").alias("a"),
        F.sum(F.when((F.col("exposed") == 1) & (F.col("outcome") == 0), 1).otherwise(0))
        .cast("bigint").alias("b"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 1), 1).otherwise(0))
        .cast("bigint").alias("c"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("outcome") == 0), 1).otherwise(0))
        .cast("bigint").alias("d"),
    ).transform(managed_persist)
    pooled = cells.agg(
        F.sum("a").cast("bigint").alias("pa"),
        F.sum("b").cast("bigint").alias("pb"),
        F.sum("c").cast("bigint").alias("pc"),
        F.sum("d").cast("bigint").alias("pd"),
    )
    j = cells.where((F.col("b") > 0) & (F.col("c") > 0)).crossJoin(
        F.broadcast(pooled)
    )
    return j.select(
        "stratum",
        F.round(
            F.col("a") * F.col("d") / (F.col("b").cast("double") * F.col("c")), 6
        ).alias("stratum_or"),
        F.round(
            F.col("pa") * F.col("pd")
            / (F.col("pb").cast("double") * F.col("pc")),
            6,
        ).alias("pooled_or"),
        (
            (F.col("a") * F.col("d") > F.col("b") * F.col("c"))
            != (F.col("pa") * F.col("pd") > F.col("pb") * F.col("pc"))
        ).alias("direction_flip"),
    )


@query(
    "q408_policy_replay",
    oracle="""
WITH logged AS (
  SELECT CAST(event_id % 3 AS INT) AS arm,
         (epoch_ns(ts) // 3600000000000) % 24 // 6 AS ctx,
         CASE WHEN CAST(value AS DECIMAL(12,2)) > 20 THEN 1 ELSE 0 END AS reward,
         CAST(event_id % 2 AS INT) AS fold
  FROM events
),
est AS (
  SELECT ctx, arm,
         CAST(SUM(reward) AS BIGINT) AS r, CAST(COUNT(*) AS BIGINT) AS n
  FROM logged WHERE fold = 0 GROUP BY ctx, arm
),
-- argmax by exact integer cross-product (r/n vs r'/n'), tie-break arm
best AS (
  SELECT ctx, arm AS best_arm FROM (
    SELECT ctx, arm,
           ROW_NUMBER() OVER (PARTITION BY ctx
             ORDER BY r * 1.0 / n DESC, arm) AS rk
    FROM est
  ) WHERE rk = 1
),
eval AS (SELECT * FROM logged WHERE fold = 1),
pol AS (
  SELECT 'greedy_per_context' AS policy, e.reward
  FROM eval e JOIN best b ON b.ctx = e.ctx AND e.arm = b.best_arm
  UNION ALL
  SELECT 'always_arm_0', reward FROM eval WHERE arm = 0
  UNION ALL
  SELECT 'uniform_logged', reward FROM eval
)
SELECT policy,
       CAST(COUNT(*) AS BIGINT) AS n_matched,
       CAST(SUM(reward) AS BIGINT) AS n_rewards,
       ROUND(SUM(reward) / CAST(COUNT(*) AS DOUBLE), 6) AS reward_rate
FROM pol GROUP BY policy
""",
)
def q408_policy_replay(spark, sf_dir):
    """OFF-POLICY REPLAY EVALUATION (Li et al.'s unbiased bandit
    replayer: when the logged actions are uniformly random, a target
    policy's value is the reward rate on the logged rounds where it
    AGREES with the log — the evaluation loop behind every
    recommendation/routing policy change, beside q288's sequential
    test and q265's CUPED): a greedy per-context policy is FIT on fold
    0 (per-(context, arm) reward means, deterministic argmax) and
    REPLAYED on fold 1, against an always-arm-0 policy and the logged
    uniform baseline.

    Scale shape: the estimator is one (ctx x arm)-bounded aggregate;
    the argmax is a window over that tiny ledger; each replay arm is
    a broadcast-join filter + one conditional aggregate. Counts
    exact; the honest two-fold split prevents the fit/eval leak."""
    ev = load_table(spark, sf_dir, "events")
    logged = ev.select(
        (F.col("event_id") % 3).cast("int").alias("arm"),
        F.expr("(ts_ns DIV 3600000000000) % 24 DIV 6").alias("ctx"),
        F.when(dec("value") > 20, 1).otherwise(0).alias("reward"),
        (F.col("event_id") % 2).cast("int").alias("fold"),
    ).transform(managed_persist)
    est = (
        logged.where(F.col("fold") == 0)
        .groupBy("ctx", "arm")
        .agg(
            F.sum("reward").cast("bigint").alias("r"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    best = (
        est.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("ctx").orderBy(
                    (F.col("r") * 1.0 / F.col("n")).desc(), "arm"
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select("ctx", F.col("arm").alias("best_arm"))
    )
    ev1 = logged.where(F.col("fold") == 1)
    greedy = (
        ev1.join(F.broadcast(best), "ctx")
        .where(F.col("arm") == F.col("best_arm"))
        .select(F.lit("greedy_per_context").alias("policy"), "reward")
    )
    arm0 = ev1.where(F.col("arm") == 0).select(
        F.lit("always_arm_0").alias("policy"), "reward"
    )
    unif = ev1.select(F.lit("uniform_logged").alias("policy"), "reward")
    pol = greedy.unionByName(arm0).unionByName(unif)
    return pol.groupBy("policy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        F.sum("reward").cast("bigint").alias("n_rewards"),
        F.round(
            F.sum("reward") / F.count(F.lit(1)).cast("double"), 6
        ).alias("reward_rate"),
    )


_BURST_GAMMA = 1_000_000  # scaled transition cost for entering a burst


@query(
    "q410_kleinberg_bursts",
    oracle=f"""
WITH RECURSIVE rel0 AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, day
),
rates AS MATERIALIZED (
  SELECT GREATEST(CAST(ROUND(AVG(c)) AS BIGINT), 1) AS r0 FROM rel0
),
lw AS MATERIALIZED (
  SELECT r0, 2 * r0 AS r1,
         CAST(ROUND(ln(r0) * 1000000) AS BIGINT) AS l0,
         CAST(ROUND(ln(2 * r0) * 1000000) AS BIGINT) AS l1
  FROM rates
),
rel AS MATERIALIZED (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
         c,
         c * lw.l0 - lw.r0 * 1000000 AS e0,
         c * lw.l1 - lw.r1 * 1000000 AS e1
  FROM rel0 CROSS JOIN lw
),
walk AS (
  SELECT event_type, t, e0 AS s0, e1 AS s1, 0 AS b0, 0 AS b1
  FROM rel WHERE t = 1
  UNION ALL
  SELECT r.event_type, r.t,
         r.e0 + GREATEST(w.s0, w.s1),
         r.e1 + GREATEST(w.s0 - {_BURST_GAMMA}, w.s1),
         CASE WHEN w.s0 >= w.s1 THEN 0 ELSE 1 END,
         CASE WHEN w.s0 - {_BURST_GAMMA} >= w.s1 THEN 0 ELSE 1 END
  FROM walk w JOIN rel r
    ON r.event_type = w.event_type AND r.t = w.t + 1
),
fwd AS MATERIALIZED (SELECT * FROM walk),
fin AS MATERIALIZED (
  SELECT event_type, t AS tmax,
         CASE WHEN s0 >= s1 THEN 0 ELSE 1 END AS state
  FROM fwd f
  WHERE t = (SELECT MAX(t) FROM fwd f2 WHERE f2.event_type = f.event_type)
),
bt AS (
  SELECT event_type, tmax AS t, state FROM fin
  UNION ALL
  SELECT b.event_type, b.t - 1,
         CASE WHEN b.state = 0 THEN f.b0 ELSE f.b1 END
  FROM bt b JOIN fwd f ON f.event_type = b.event_type AND f.t = b.t
  WHERE b.t > 1
),
path AS MATERIALIZED (SELECT event_type, t, state FROM bt),
brk AS (
  SELECT event_type, t, state,
         CASE WHEN LAG(state) OVER (PARTITION BY event_type ORDER BY t) = state
              THEN 0 ELSE 1 END AS b
  FROM path
),
sid AS (
  SELECT event_type, t, state,
         SUM(b) OVER (PARTITION BY event_type ORDER BY t) AS seg
  FROM brk
)
SELECT event_type, CAST(seg AS INT) AS seg_id, CAST(state AS INT) AS burst,
       CAST(MIN(t) AS BIGINT) AS t_start, CAST(MAX(t) AS BIGINT) AS t_end,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM sid GROUP BY event_type, seg, state
""",
)
def q410_kleinberg_bursts(spark, sf_dir):
    """KLEINBERG BURST DETECTION per event series (the 2-state burst
    automaton over daily COUNTS — base rate r0 vs burst rate 2*r0,
    Poisson log-likelihood emissions with the shared c! term dropped,
    cost gamma to ENTER a burst and free exit — the named-tool burst
    segmentation beside q315's symmetric Viterbi and q382's
    Page-Hinkley drift): maximum-likelihood burst segments per series.

    Exactness: ln(rate) of the INTEGER global base rate snaps to a
    scaled bigint once, so the whole DP is bigint arithmetic (the
    q315 integer-log discipline) — emissions e_s(c) = c*L_s - r_s*1e6
    ride as columns into the generalized score-column Viterbi kernel.
    Scale: per-series sequential over calendar-bounded dailies; the
    rates row broadcasts."""
    from variantcalling_spark.operators.kernels import (
        viterbi_decode_2state_scores,
    )

    ev = load_table(spark, sf_dir, "events")
    rel0 = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    rates = rel0.agg(
        F.greatest(F.round(F.avg("c")).cast("bigint"), F.lit(1).cast("bigint")).alias(
            "r0"
        )
    ).select(
        "r0",
        (F.col("r0") * 2).alias("r1"),
        F.round(F.log("r0") * 1000000).cast("bigint").alias("l0"),
        F.round(F.log(F.col("r0") * 2) * 1000000).cast("bigint").alias("l1"),
    )
    rel = rel0.crossJoin(F.broadcast(rates)).select(
        F.col("event_type").alias("series"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("t"),
        (F.col("c") * F.col("l0") - F.col("r0") * 1000000).alias("e0"),
        (F.col("c") * F.col("l1") - F.col("r1") * 1000000).alias("e1"),
    )
    path = viterbi_decode_2state_scores(
        rel, stay0=0, sw01=-_BURST_GAMMA, sw10=0, stay1=0
    )
    brk = path.withColumn(
        "b",
        F.when(
            F.lag("state").over(W.partitionBy("series").orderBy("t"))
            == F.col("state"),
            0,
        ).otherwise(1),
    )
    sid = brk.withColumn(
        "seg",
        F.sum("b").over(
            W.partitionBy("series").orderBy("t").rowsBetween(
                W.unboundedPreceding, 0
            )
        ),
    )
    return sid.groupBy(
        F.col("series").alias("event_type"),
        F.col("seg").cast("int").alias("seg_id"),
        F.col("state").cast("int").alias("burst"),
    ).agg(
        F.min("t").cast("bigint").alias("t_start"),
        F.max("t").cast("bigint").alias("t_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )


@query(
    "q411_lz_complexity",
    oracle="""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, day
),
med AS MATERIALIZED (
  SELECT event_type, m AS med FROM (
    SELECT event_type, m,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY m) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM daily
  ) WHERE rn = (n + 1) // 2
),
seqs AS MATERIALIZED (
  SELECT d.event_type,
         string_agg(CASE WHEN d.m > x.med THEN '1' ELSE '0' END, ''
                    ORDER BY d.day) AS s
  FROM daily d JOIN med x ON x.event_type = d.event_type
  GROUP BY d.event_type
),
parse AS (
  SELECT event_type, s, CAST(length(s) AS BIGINT) AS n,
         CAST(0 AS BIGINT) AS pos, '' AS cur,
         CAST([] AS VARCHAR[]) AS dict, CAST(0 AS BIGINT) AS phrases
  FROM seqs
  UNION ALL
  SELECT event_type, s, n, pos + 1,
         CASE WHEN list_contains(dict, cur || s[CAST(pos + 1 AS INT)])
              THEN cur || s[CAST(pos + 1 AS INT)] ELSE '' END,
         CASE WHEN list_contains(dict, cur || s[CAST(pos + 1 AS INT)])
              THEN dict
              ELSE list_append(dict, cur || s[CAST(pos + 1 AS INT)]) END,
         CASE WHEN list_contains(dict, cur || s[CAST(pos + 1 AS INT)])
              THEN phrases ELSE phrases + 1 END
  FROM parse WHERE pos < n
)
SELECT event_type, n AS n_obs,
       CAST(phrases + CASE WHEN cur <> '' THEN 1 ELSE 0 END AS BIGINT)
         AS lz78_phrases,
       ROUND((phrases + CASE WHEN cur <> '' THEN 1 ELSE 0 END)
             / CAST(n AS DOUBLE), 6) AS phrase_rate
FROM parse WHERE pos = n
""",
)
def q411_lz_complexity(spark, sf_dir):
    """LZ78 SEQUENCE COMPLEXITY per metric series (the compressibility
    statistic: a predictable series parses into FEW novel phrases, a
    random one into ~n/log n — the information-theoretic trend gauge
    beside q402's LIS and q298's ACF; also the dictionary-parse
    primitive under LZ-family dedup intuition): binarize each series
    at its median, parse into shortest-never-seen-before phrases, and
    report phrase count + rate.

    Engine parity: the ORACLE carries the phrase DICTIONARY as a
    VARCHAR[] through the recursion (the q402 array-state shape
    extended to string lists), advancing one symbol per step —
    value-pinning every dictionary state; the kernel runs the
    identical parse per series (applyInPandas, series parallel).
    A trailing partial phrase counts as one, both sides."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    )
    wmed = W.partitionBy("event_type").orderBy("m")
    med = (
        daily.select(
            "event_type",
            "m",
            F.row_number().over(wmed).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("event_type", F.col("m").alias("med"))
    )
    rel = daily.join(F.broadcast(med), "event_type").select(
        F.col("event_type").alias("series"),
        "day",
        F.when(F.col("m") > F.col("med"), "1").otherwise("0").alias("sym"),
    )

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day", kind="mergesort")
        s = "".join(pdf["sym"])
        dict_: set[str] = set()
        cur = ""
        phrases = 0
        for ch in s:
            cur += ch
            if cur not in dict_:
                dict_.add(cur)
                phrases += 1
                cur = ""
        if cur:
            phrases += 1
        return pd.DataFrame(
            {
                "event_type": [pdf["series"].iloc[0]],
                "n_obs": [len(s)],
                "lz78_phrases": [phrases],
                "phrase_rate": [round(phrases / len(s), 6)],
            }
        )

    return rel.groupBy("series").applyInPandas(
        per_series,
        schema="event_type string, n_obs long, lz78_phrases long, phrase_rate double",
    )


_MABS_ROUNDS = 6


def _markov_absorption_oracle_sql(k: int = _MABS_ROUNDS) -> str:
    rounds = []
    for r in range(1, k + 1):
        p = r - 1
        rounds.append(f"""
p{r} AS (
  SELECT t.dst AS state,
         CAST(SUM(CAST(ROUND(p{p}.prob * t.tp, 14) AS DECIMAL(24,14)))
              AS DOUBLE) AS prob
  FROM p{p} JOIN tmat t ON t.src = p{p}.state
  GROUP BY t.dst
)""")
        # rounds are pure matrix-vector products on the absorbing matrix
    selects = "\nUNION ALL\n".join(
        f"SELECT {r} AS k, COALESCE((SELECT prob FROM p{r} WHERE state = 'purchase'), 0.0) AS p_converted"
        for r in range(0, k + 1)
    )
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
           AS rn
  FROM events
),
pairs AS (
  SELECT a.event_type AS src, b.event_type AS dst
  FROM seq a JOIN seq b ON b.user_id = a.user_id AND b.rn = a.rn + 1
),
-- absorbing chain: once in 'purchase', stay (self-loop prob 1)
raw AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
  FROM pairs WHERE src <> 'purchase' GROUP BY src, dst
),
tmat AS (
  SELECT src, dst,
         ROUND(c / CAST(SUM(c) OVER (PARTITION BY src) AS DOUBLE), 10) AS tp
  FROM raw
  UNION ALL
  SELECT 'purchase', 'purchase', 1.0
),
p0 AS (SELECT 'view' AS state, CAST(1.0 AS DOUBLE) AS prob),{",".join(rounds)}
SELECT k, ROUND(p_converted, 6) AS p_converted FROM ({selects})
"""


@query("q412_markov_absorption", oracle=_markov_absorption_oracle_sql())
def q412_markov_absorption(spark, sf_dir):
    """MARKOV ABSORPTION / CONVERSION CURVE (the attribution-model
    primitive: from a 'view' start, the probability of having been
    ABSORBED by 'purchase' within k interaction steps under the
    empirical transition matrix with purchase absorbing — the chain
    q262 estimates, now ITERATED; the matrix-power face of q369's
    stationary distribution): P(converted within k) for k = 0..6.

    Exactness: transition probabilities snap at 10 dp; every
    matrix-vector product term snaps at 14 dp into a DECIMAL sum
    (summation-order-free) before returning to DOUBLE — the event-type
    state domain is tiny, the discipline is what transfers. Scale:
    ONE corpus pass builds the pair counts; the k iterations run on
    the state-domain matrix."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts_ns", "event_id"))
        .alias("rn"),
    )
    b = seq.select(
        "user_id", F.col("event_type").alias("dst"), (F.col("rn") - 1).alias("rn")
    )
    pairs = seq.join(b, ["user_id", "rn"]).select(
        F.col("event_type").alias("src"), "dst"
    )
    raw = (
        pairs.where(F.col("src") != "purchase")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = raw.groupBy("src").agg(F.sum("c").alias("rt"))
    tmat = (
        raw.join(F.broadcast(tot), "src")
        .select(
            "src",
            "dst",
            F.round(F.col("c") / F.col("rt").cast("double"), 10).alias("tp"),
        )
        .unionByName(
            spark.createDataFrame(
                [("purchase", "purchase", 1.0)], "src string, dst string, tp double"
            )
        )
        # lazy checkpoint: every unrolled matvec round below joins tmat,
        # and each per-k ledger row re-references the carried p — cutting
        # lineage at both keeps the static plan linear in k (the
        # campaign recipe; was 265 Exchange nodes from subtree re-inline)
        .transform(lineage_cut)
    )
    p = spark.createDataFrame([("view", 1.0)], "state string, prob double")
    out = p.agg(
        F.lit(0).alias("k"),
        F.coalesce(
            F.sum(F.when(F.col("state") == "purchase", F.col("prob"))), F.lit(0.0)
        ).alias("p_raw"),
    )
    for k in range(1, _MABS_ROUNDS + 1):
        p = (
            p.join(tmat, p.state == tmat.src)
            .groupBy(F.col("dst").alias("state"))
            .agg(
                F.sum(
                    F.round(F.col("prob") * F.col("tp"), 14).cast("decimal(24,14)")
                )
                .cast("double")
                .alias("prob")
            )
            .transform(lineage_cut)
        )
        out = out.unionByName(
            p.agg(
                F.lit(k).alias("k"),
                F.coalesce(
                    F.sum(F.when(F.col("state") == "purchase", F.col("prob"))),
                    F.lit(0.0),
                ).alias("p_raw"),
            )
        )
    return out.select("k", F.round("p_raw", 6).alias("p_converted"))


@query(
    "q414_best_f1_threshold",
    oracle="""
WITH ev AS (
  SELECT value AS score,
         CASE WHEN event_type = 'purchase' THEN 'tp' ELSE 'fp' END AS label
  FROM events WHERE event_type IN ('purchase', 'error')
),
per_score AS (
  SELECT score,
         COUNT(*) FILTER (WHERE label = 'tp') AS n_tp,
         COUNT(*) FILTER (WHERE label = 'fp') AS n_fp
  FROM ev GROUP BY score
),
cum AS (
  SELECT score,
         CAST(SUM(n_tp) OVER w AS BIGINT) AS cum_tp,
         CAST(SUM(n_fp) OVER w AS BIGINT) AS cum_fp,
         CAST(SUM(n_tp) OVER () AS BIGINT) AS tot_tp
  FROM per_score
  WINDOW w AS (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
curve AS (
  SELECT score, cum_tp, cum_fp, tot_tp,
         CASE WHEN cum_tp > 0 THEN
           2.0 * (cum_tp / CAST(cum_tp + cum_fp AS DOUBLE))
               * (cum_tp / CAST(tot_tp AS DOUBLE))
           / ((cum_tp / CAST(cum_tp + cum_fp AS DOUBLE))
              + (cum_tp / CAST(tot_tp AS DOUBLE)))
         ELSE 0.0 END AS f1
  FROM cum
)
SELECT score AS threshold, cum_tp, cum_fp,
       ROUND(cum_tp / CAST(cum_tp + cum_fp AS DOUBLE), 6) AS precision_at,
       ROUND(cum_tp / CAST(tot_tp AS DOUBLE), 6) AS recall_at,
       ROUND(f1, 6) AS f1_at
FROM curve
ORDER BY f1 DESC, score ASC
LIMIT 1
""",
)
def q414_best_f1_threshold(spark, sf_dir):
    """BEST-F1 OPERATING POINT (the threshold picker every deployed
    filter runs on its PR curve — q40 draws the whole curve, q225
    picks by truth-sensitivity targets, THIS picks the F1 argmax; the
    reference's filtering layer chooses operating points the same
    way): the threshold maximizing F1, with precision/recall/counts
    at that cut.

    Scale shape: rides the bucketized pr_curve operator (two-level
    cumsum — no single-partition window), then ONE TakeOrdered
    heap-select over the curve; ties break to the smaller threshold
    on both engines."""
    from variantcalling_spark.operators.metrics import pr_curve

    ev = (
        events_points(spark, sf_dir)
        .where(F.col("event_type").isin("purchase", "error"))
        .select(
            F.col("value").alias("score"),
            F.when(F.col("event_type") == "purchase", "tp")
            .otherwise("fp")
            .alias("label"),
        )
    )
    curve = pr_curve(ev, "score", "label")
    return (
        curve.orderBy(F.col("f1").desc(), F.col("threshold").asc())
        .limit(1)
        .select(
            "threshold",
            "cum_tp",
            "cum_fp",
            F.round("precision", 6).alias("precision_at"),
            F.round("recall", 6).alias("recall_at"),
            F.round("f1", 6).alias("f1_at"),
        )
    )


@query(
    "q415_seasonal_mann_kendall",
    oracle="""
WITH daily AS (
  SELECT event_type,
         epoch_ns(ts) // 86400000000000 AS day,
         ((epoch_ns(ts) // 86400000000000) + 3) % 7 AS season,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, day
),
pairs AS (
  SELECT a.event_type, a.season,
         CASE WHEN b.m > a.m THEN 1 WHEN b.m < a.m THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.season = a.season AND b.day > a.day
),
s_per AS (
  SELECT event_type, season, CAST(SUM(sgn) AS BIGINT) AS s_s
  FROM pairs GROUP BY event_type, season
),
n_per AS (
  SELECT event_type, season, CAST(COUNT(*) AS BIGINT) AS n
  FROM daily GROUP BY event_type, season
),
t_per AS (
  SELECT event_type, season,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
  FROM (SELECT event_type, season, m, COUNT(*) AS t FROM daily
        GROUP BY event_type, season, m)
  WHERE t > 1 GROUP BY event_type, season
),
per AS (
  SELECT n_per.event_type, n_per.season, n_per.n,
         COALESCE(s_per.s_s, 0) AS s_s,
         (n_per.n * (n_per.n - 1) * (2 * n_per.n + 5)
          - COALESCE(t_per.tsum, 0)) / 18.0 AS var_s
  FROM n_per
  LEFT JOIN s_per ON s_per.event_type = n_per.event_type
                 AND s_per.season = n_per.season
  LEFT JOIN t_per ON t_per.event_type = n_per.event_type
                 AND t_per.season = n_per.season
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_seasons,
       CAST(SUM(s_s) AS BIGINT) AS s_total,
       ROUND(SUM(var_s), 6) AS var_total,
       ROUND(CASE WHEN SUM(s_s) > 0 THEN (SUM(s_s) - 1) / sqrt(SUM(var_s))
                  WHEN SUM(s_s) < 0 THEN (SUM(s_s) + 1) / sqrt(SUM(var_s))
                  ELSE 0.0 END, 6) AS smk_z
FROM per GROUP BY event_type
""",
)
def q415_seasonal_mann_kendall(spark, sf_dir):
    """SEASONAL MANN-KENDALL trend test (Hirsch-Slack — the monitoring
    standard when a series has a weekly/seasonal cycle: compare days
    only WITHIN the same season so the cycle cannot masquerade as
    trend, then pool S and Var(S) across seasons; the seasonal face of
    q310): per event series, pooled S, variance with tie correction,
    and the continuity-corrected Z.

    Scale shape: the pair generation is q310's within-group self-join,
    now keyed on (series, season) — pairs are sum of per-season
    squares, never cross-season; all counts exact BIGINTs; one final
    sqrt."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("ts_ns DIV 86400000000000").alias("day"),
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    ).withColumn("season", F.expr("(day + 3) % 7")).transform(managed_persist)
    b = daily.select(
        "event_type",
        "season",
        F.col("day").alias("day2"),
        F.col("m").alias("m2"),
    )
    pairs = (
        daily.join(b, ["event_type", "season"])
        .where(F.col("day2") > F.col("day"))
        .select(
            "event_type",
            "season",
            F.when(F.col("m2") > F.col("m"), 1)
            .when(F.col("m2") < F.col("m"), -1)
            .otherwise(0)
            .alias("sgn"),
        )
    )
    s_per = pairs.groupBy("event_type", "season").agg(
        F.sum("sgn").cast("bigint").alias("s_s")
    )
    n_per = daily.groupBy("event_type", "season").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t_per = (
        daily.groupBy("event_type", "season", "m")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .groupBy("event_type", "season")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("bigint")
            .alias("tsum")
        )
    )
    per = (
        n_per.join(s_per, ["event_type", "season"], "left")
        .join(t_per, ["event_type", "season"], "left")
        .select(
            "event_type",
            F.coalesce(F.col("s_s"), F.lit(0)).alias("s_s"),
            (
                (
                    F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                    - F.coalesce(F.col("tsum"), F.lit(0))
                )
                / 18.0
            ).alias("var_s"),
        )
    )
    st = F.sum("s_s")
    return per.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seasons"),
        st.cast("bigint").alias("s_total"),
        F.round(F.sum("var_s"), 6).alias("var_total"),
        F.round(
            F.when(st > 0, (st - 1) / F.sqrt(F.sum("var_s")))
            .when(st < 0, (st + 1) / F.sqrt(F.sum("var_s")))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("smk_z"),
    )


@query(
    "q417_median_ci",
    oracle="""
WITH v AS (SELECT CAST(value AS DOUBLE) AS x FROM events),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
ranks AS (
  SELECT n,
         CAST((n + 1) // 2 AS BIGINT) AS k_med,
         GREATEST(CAST(1 AS BIGINT),
           CAST(FLOOR((n - 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT))
           AS k_lo,
         LEAST(n,
           CAST(CEIL(1 + (n + 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT))
           AS k_hi
  FROM n
),
sorted AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v
)
SELECT r.n,
       r.k_lo, r.k_hi,
       (SELECT x FROM sorted WHERE rn = r.k_med) AS median,
       (SELECT x FROM sorted WHERE rn = r.k_lo) AS ci_lo,
       (SELECT x FROM sorted WHERE rn = r.k_hi) AS ci_hi
FROM ranks r
""",
)
def q417_median_ci(spark, sf_dir):
    """DISTRIBUTION-FREE MEDIAN CONFIDENCE INTERVAL (the order-
    statistic CI — no resampling, no normality: P(x_(l) < median <
    x_(u)) follows the binomial(n, 1/2), here with the standard
    normal-approximation ranks l = floor((n - z sqrt(n))/2),
    u = ceil(1 + (n + z sqrt(n))/2) at z = 1.959964 — the exact-rank
    sibling of q246's Poisson bootstrap and q208's Wilson interval):
    the median and its 95% CI, each picked by rank.

    Scale discipline: all three order statistics come from ONE
    `value_at_rank_bucketed` call (bucket histogram + crossing-bucket
    rescan — the r7 operator), so nothing sorts the corpus in one
    task; the ranks are deterministic integers from one sqrt."""
    from variantcalling_spark.operators.ordered import value_at_rank_bucketed

    ev = load_table(spark, sf_dir, "events")
    v = ev.select(F.col("value").cast("double").alias("x"))
    n_df = v.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    z = 1.959964
    ranks = n_df.select(
        "n",
        F.expr("(n + 1) DIV 2").alias("k_med"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.floor((F.col("n") - z * F.sqrt(F.col("n").cast("double"))) / 2).cast(
                "bigint"
            ),
        ).alias("k_lo"),
        F.least(
            F.col("n"),
            F.ceil(1 + (F.col("n") + z * F.sqrt(F.col("n").cast("double"))) / 2).cast(
                "bigint"
            ),
        ).alias("k_hi"),
    ).transform(managed_persist)
    ks = (
        ranks.select(F.lit("median").alias("which"), F.col("k_med").alias("k"))
        .unionByName(
            ranks.select(F.lit("ci_lo").alias("which"), F.col("k_lo").alias("k"))
        )
        .unionByName(
            ranks.select(F.lit("ci_hi").alias("which"), F.col("k_hi").alias("k"))
        )
    )
    picked = value_at_rank_bucketed(v, "x", ks, rank_col="k", bucket_width=16.0)
    wide = picked.groupBy().pivot("which", ["median", "ci_lo", "ci_hi"]).agg(
        F.first("value_at_rank")
    )
    return ranks.crossJoin(F.broadcast(wide)).select(
        "n", "k_lo", "k_hi", "median", "ci_lo", "ci_hi"
    )


@query(
    "q418_partial_correlation",
    oracle="""
WITH b AS (
  SELECT CAST(value AS DECIMAL(12,2)) AS x,
         CAST((epoch_ns(ts) // 3600000000000) % 24 AS DECIMAL(12,2)) AS y,
         CAST(((epoch_ns(ts) // 86400000000000) + 3) % 7 AS DECIMAL(12,2)) AS z
  FROM events
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(z) AS DOUBLE) AS sz,
         CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(y * y) AS DOUBLE) AS syy,
         CAST(SUM(z * z) AS DOUBLE) AS szz,
         CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * z) AS DOUBLE) AS sxz,
         CAST(SUM(y * z) AS DOUBLE) AS syz
  FROM b
),
r AS (
  SELECT n,
         (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rxy,
         (n * sxz - sx * sz) / sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)) AS rxz,
         (n * syz - sy * sz) / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)) AS ryz
  FROM m
)
SELECT n, ROUND(rxy, 6) AS r_xy, ROUND(rxz, 6) AS r_xz, ROUND(ryz, 6) AS r_yz,
       ROUND((rxy - rxz * ryz)
             / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6) AS r_xy_given_z
FROM r
""",
)
def q418_partial_correlation(spark, sf_dir):
    """PARTIAL CORRELATION r_xy.z (the confounder-controlled
    association: does value correlate with hour-of-day once weekday is
    partialled out? — the continuous-covariate sibling of q383's
    stratified CMH and q404's IPTW): the three pairwise Pearson
    correlations from ONE exact-DECIMAL moment aggregate, composed by
    the standard recursion r_xy.z = (r_xy - r_xz r_yz) /
    sqrt((1-r_xz^2)(1-r_yz^2)).

    Exactness: all ten moments are exact DECIMAL sums of 2-dp-snapped
    inputs (summation-order-free); correlations and the partial are
    pure IEEE expressions over those identical doubles. One scan."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        dec("value").alias("x"),
        F.expr("CAST((ts_ns DIV 3600000000000) % 24 AS DECIMAL(12,2))").alias("y"),
        F.expr(
            "CAST(((ts_ns DIV 86400000000000) + 3) % 7 AS DECIMAL(12,2))"
        ).alias("z"),
    )
    m = b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("z").cast("double").alias("sz"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("double").alias("szz"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("double").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("double").alias("syz"),
    )
    n = F.col("n")
    rxy = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    rxz = (n * F.col("sxz") - F.col("sx") * F.col("sz")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("szz") - F.col("sz") * F.col("sz"))
    )
    ryz = (n * F.col("syz") - F.col("sy") * F.col("sz")) / F.sqrt(
        (n * F.col("syy") - F.col("sy") * F.col("sy"))
        * (n * F.col("szz") - F.col("sz") * F.col("sz"))
    )
    r = m.select(
        "n", rxy.alias("rxy"), rxz.alias("rxz"), ryz.alias("ryz")
    )
    return r.select(
        "n",
        F.round("rxy", 6).alias("r_xy"),
        F.round("rxz", 6).alias("r_xz"),
        F.round("ryz", 6).alias("r_yz"),
        F.round(
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (1 - F.col("rxz") * F.col("rxz"))
                * (1 - F.col("ryz") * F.col("ryz"))
            ),
            6,
        ).alias("r_xy_given_z"),
    )


@query(
    "q428_kruskal_wallis",
    oracle="""
WITH s AS (
  SELECT event_type, user_id % 5 AS grp, value AS v FROM events
),
rk AS (
  SELECT event_type, grp, v,
         RANK() OVER (PARTITION BY event_type ORDER BY v) AS rmin,
         COUNT(*) OVER (PARTITION BY event_type, v) AS tc
  FROM s
),
ga AS (
  SELECT event_type, grp,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(2 * rmin + tc - 1) AS BIGINT) AS sum_rank2
  FROM rk GROUP BY event_type, grp
),
tot AS (
  SELECT event_type, CAST(SUM(n_g) AS BIGINT) AS n,
         SUM(POW(sum_rank2 / 2.0, 2) / n_g) AS s_r2,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM ga GROUP BY event_type
),
ties AS (
  SELECT event_type, CAST(SUM(t * t * t - t) AS BIGINT) AS tsum
  FROM (SELECT event_type, v, COUNT(*) AS t FROM s GROUP BY event_type, v)
  GROUP BY event_type
)
SELECT t.event_type, n, k, tsum,
       ROUND(12.0 / (n * (n + 1.0)) * s_r2 - 3.0 * (n + 1), 6) AS h_stat,
       ROUND((12.0 / (n * (n + 1.0)) * s_r2 - 3.0 * (n + 1))
             / (1.0 - tsum / (CAST(n AS DOUBLE) * n * n - n)), 6)
         AS h_tie_corrected
FROM tot t JOIN ties ON ties.event_type = t.event_type
""",
)
def q428_kruskal_wallis(spark, sf_dir):
    """KRUSKAL-WALLIS H per metric series across the 5 user cohorts
    (the k-group generalization of q293's Mann-Whitney — the
    distribution-free ANOVA a metrics pipeline runs before trusting a
    mean-based readout): tie-averaged ranks held exact as integers
    (rank2 = 2*rmin + tc - 1, the q293 doubling trick), per-cohort rank
    sums, H with the standard tie correction.

    Scale shape: the rank window partitions by event_type (a bounded
    series domain — never a global sort); everything after is two
    map-side-combinable aggregates over (series, cohort)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 5).alias("grp"), F.col("value").alias("v")
    )
    wr = W.partitionBy("event_type").orderBy("v")
    wt = W.partitionBy("event_type", "v")
    rk = ev.select(
        "event_type",
        "grp",
        "v",
        F.rank().over(wr).alias("rmin"),
        F.count(F.lit(1)).over(wt).alias("tc"),
    )
    ga = rk.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(2 * F.col("rmin") + F.col("tc") - 1).cast("bigint").alias("sum_rank2"),
    )
    tot = ga.groupBy("event_type").agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum(F.pow(F.col("sum_rank2") / 2.0, 2) / F.col("n_g")).alias("s_r2"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    ties = (
        ev.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("bigint")
            .alias("tsum")
        )
    )
    n, s_r2 = F.col("n"), F.col("s_r2")
    h = 12.0 / (n * (n + F.lit(1.0))) * s_r2 - 3.0 * (n + 1)
    corr = 1.0 - F.col("tsum") / (n.cast("double") * n * n - n)
    return tot.join(ties, "event_type").select(
        "event_type",
        "n",
        "k",
        "tsum",
        F.round(h, 6).alias("h_stat"),
        F.round(h / corr, 6).alias("h_tie_corrected"),
    )


@query(
    "q429_brown_forsythe",
    oracle="""
WITH s AS (
  SELECT event_type, user_id % 5 AS grp, value AS v, event_id FROM events
),
med AS (
  SELECT event_type, grp, v AS m FROM (
    SELECT event_type, grp, v,
           ROW_NUMBER() OVER (PARTITION BY event_type, grp
                              ORDER BY v, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type, grp) AS n_g
    FROM s
  ) WHERE rn = CAST(CEIL(n_g / 2.0) AS BIGINT)
),
z AS (
  SELECT s.event_type, s.grp,
         CAST(ROUND(ABS(s.v - med.m), 9) AS DECIMAL(24,9)) AS z
  FROM s JOIN med ON med.event_type = s.event_type AND med.grp = s.grp
),
gz AS (
  SELECT event_type, grp, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(z) AS DECIMAL(30,9)) AS sz
  FROM z GROUP BY event_type, grp
),
tz AS (
  SELECT event_type, CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(sz) AS DECIMAL(32,9)) AS stz
  FROM gz GROUP BY event_type
),
between_ss AS (
  SELECT gz.event_type,
         SUM(n_g * POW(CAST(sz AS DOUBLE) / n_g
                       - CAST(stz AS DOUBLE) / n, 2)) AS ssb
  FROM gz JOIN tz ON tz.event_type = gz.event_type
  GROUP BY gz.event_type
),
within_ss AS (
  SELECT z.event_type,
         SUM(POW(CAST(z.z AS DOUBLE) - CAST(gz.sz AS DOUBLE) / gz.n_g, 2))
           AS ssw
  FROM z JOIN gz ON gz.event_type = z.event_type AND gz.grp = z.grp
  GROUP BY z.event_type
)
SELECT t.event_type, n, k,
       ROUND((n - k) / (k - 1.0) * b.ssb / w.ssw, 6) AS w_stat
FROM tz t JOIN between_ss b ON b.event_type = t.event_type
          JOIN within_ss w ON w.event_type = t.event_type
""",
)
def q429_brown_forsythe(spark, sf_dir):
    """BROWN-FORSYTHE LEVENE TEST per metric series across the 5 user
    cohorts (equal-variance screen — the gatekeeper assumption check
    for q309's t and any pooled-variance readout; the median-centered
    Levene variant is the robust one): deviations from the per-cohort
    LOWER MEDIAN (value at rank ceil(n/2) under a deterministic
    (v, event_id) order — rank-exact, no midpoint averaging), then the
    one-way ANOVA F over those deviations.

    Exactness: |v - median| rounded to 9dp and summed in DECIMAL
    (order-independent); the SS terms are double expressions of those
    exact sums with identical shapes on both engines. All windows are
    per-(series, cohort)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 5).alias("grp"),
        F.col("value").alias("v"),
        "event_id",
    )
    wg = W.partitionBy("event_type", "grp")
    med = (
        ev.select(
            "event_type",
            "grp",
            "v",
            F.row_number().over(wg.orderBy("v", "event_id")).alias("rn"),
            F.count(F.lit(1)).over(wg).alias("n_g"),
        )
        .where(F.col("rn") == F.ceil(F.col("n_g") / 2.0).cast("bigint"))
        .select("event_type", "grp", F.col("v").alias("m"))
    )
    z = ev.join(med, ["event_type", "grp"]).select(
        "event_type",
        "grp",
        F.round(F.abs(F.col("v") - F.col("m")), 9).cast("decimal(24,9)").alias("z"),
    )
    gz = z.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("z").cast("decimal(30,9)").alias("sz"),
    )
    tz = gz.groupBy("event_type").agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("sz").cast("decimal(32,9)").alias("stz"),
    )
    ssb = (
        gz.join(tz, "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("n_g")
                * F.pow(
                    F.col("sz").cast("double") / F.col("n_g")
                    - F.col("stz").cast("double") / F.col("n"),
                    2,
                )
            ).alias("ssb")
        )
    )
    ssw = (
        z.join(gz, ["event_type", "grp"])
        .groupBy("event_type")
        .agg(
            F.sum(
                F.pow(
                    F.col("z").cast("double")
                    - F.col("sz").cast("double") / F.col("n_g"),
                    2,
                )
            ).alias("ssw")
        )
    )
    return (
        tz.join(ssb, "event_type")
        .join(ssw, "event_type")
        .select(
            "event_type",
            "n",
            "k",
            F.round(
                (F.col("n") - F.col("k"))
                / (F.col("k") - F.lit(1.0))
                * F.col("ssb")
                / F.col("ssw"),
                6,
            ).alias("w_stat"),
        )
    )


@query(
    "q430_durbin_watson",
    oracle="""
WITH s AS (
  SELECT event_type, epoch_ns(ts) AS ts_ns, event_id,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events
),
m AS (
  SELECT event_type, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mu,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM s GROUP BY event_type
),
e AS (
  SELECT s.event_type,
         CAST(s.v AS DOUBLE) - m.mu AS r,
         LAG(CAST(s.v AS DOUBLE) - m.mu)
           OVER (PARTITION BY s.event_type ORDER BY ts_ns, event_id) AS rp
  FROM s JOIN m ON m.event_type = s.event_type
),
agg AS (
  SELECT event_type,
         CAST(SUM(CAST(ROUND(POW(r - rp, 2), 8) AS DECIMAL(26,8))) AS DOUBLE)
           AS num,
         CAST(SUM(CAST(ROUND(r * r, 8) AS DECIMAL(26,8))) AS DOUBLE) AS den
  FROM e GROUP BY event_type
)
SELECT a.event_type, m.n,
       ROUND(a.num / a.den, 6) AS dw
FROM agg a JOIN m ON m.event_type = a.event_type
""",
)
def q430_durbin_watson(spark, sf_dir):
    """DURBIN-WATSON first-order autocorrelation statistic per metric
    series in event-time order (the residual-independence check every
    time-series regression owes its readers — DW near 2 = independent,
    near 0 = positive drift the q310 Mann-Kendall would also flag):
    residuals are deviations from the series mean (DECIMAL-exact sum /
    n), consecutive differences via LAG under the deterministic
    (ts, event_id) order, both quadratic sums rounded to 8dp and summed
    in DECIMAL so the ratio is engine-exact.

    Scale shape: one partitioned ordered window (per-series) + one
    map-side-combinable aggregate; nothing global."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts_ns", "event_id", dec("value").alias("v")
    )
    m = ev.groupBy("event_type").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    wo = W.partitionBy("event_type").orderBy("ts_ns", "event_id")
    e = ev.join(m, "event_type").select(
        "event_type",
        (F.col("v").cast("double") - F.col("mu")).alias("r"),
        "ts_ns",
        "event_id",
    )
    e = e.select(
        "event_type", "r", F.lag("r").over(wo).alias("rp")
    )
    agg = e.groupBy("event_type").agg(
        F.sum(
            F.round(F.pow(F.col("r") - F.col("rp"), 2), 8).cast("decimal(26,8)")
        )
        .cast("double")
        .alias("num"),
        F.sum(F.round(F.col("r") * F.col("r"), 8).cast("decimal(26,8)"))
        .cast("double")
        .alias("den"),
    )
    return agg.join(m, "event_type").select(
        "event_type", "n", F.round(F.col("num") / F.col("den"), 6).alias("dw")
    )


@query(
    "q431_cochran_q",
    oracle="""
WITH x AS (
  SELECT user_id, event_type,
         MAX(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY user_id, event_type
),
kt AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events),
complete_blocks AS (
  SELECT user_id FROM x GROUP BY user_id
  HAVING COUNT(*) = (SELECT k FROM kt)
),
xc AS (
  SELECT x.user_id, x.event_type, x.x
  FROM x JOIN complete_blocks b ON b.user_id = x.user_id
),
cols AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS c FROM xc GROUP BY event_type),
rows_ AS (SELECT user_id, CAST(SUM(x) AS BIGINT) AS r FROM xc GROUP BY user_id),
tot AS (
  SELECT (SELECT k FROM kt) AS k,
         CAST((SELECT COUNT(*) FROM complete_blocks) AS BIGINT) AS n_blocks,
         CAST((SELECT SUM(c) FROM cols) AS BIGINT) AS t,
         CAST((SELECT SUM(c * c) FROM cols) AS BIGINT) AS sc2,
         CAST((SELECT SUM(r * r) FROM rows_) AS BIGINT) AS sr2
)
SELECT k, n_blocks, t,
       CASE WHEN k * t = sr2 THEN NULL
            ELSE ROUND((k - 1.0) * (k * sc2 - CAST(t AS DOUBLE) * t)
                       / (k * CAST(t AS DOUBLE) - sr2), 6) END AS q_stat,
       CAST(k - 1 AS BIGINT) AS df
FROM tot
""",
)
def q431_cochran_q(spark, sf_dir):
    """COCHRAN'S Q over complete user blocks (the k-treatment
    repeated-measures test for BINARY outcomes — did the 'value > 500'
    success indicator differ across event types for the same users? —
    the binary sibling of q349's Wilcoxon signed-rank and the
    McNemar-k generalization of q296): x_it per (user, type), blocks
    restricted to users observed under every type, Q from integer
    column/row totals — everything exact until the single output
    division.

    Scale shape: one (user, type) aggregate, a HAVING-count block
    filter (semi join), then two tiny marginal aggregates; no windows,
    no ordering anywhere."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.groupBy("user_id", "event_type").agg(
        F.max(F.when(F.col("value") > 100, 1).otherwise(0)).alias("x")
    )
    k = ev.agg(F.countDistinct("event_type").cast("bigint").alias("k"))
    blocks = (
        x.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("nt"))
        .crossJoin(F.broadcast(k))
        .where(F.col("nt") == F.col("k"))
        .select("user_id")
    )
    xc = x.join(blocks, "user_id").transform(managed_persist)
    cols = xc.groupBy("event_type").agg(F.sum("x").cast("bigint").alias("c"))
    rows_ = xc.groupBy("user_id").agg(F.sum("x").cast("bigint").alias("r"))
    tot = (
        cols.agg(
            F.sum("c").cast("bigint").alias("t"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
        )
        .crossJoin(F.broadcast(k))
        .crossJoin(
            F.broadcast(
                rows_.agg(F.sum(F.col("r") * F.col("r")).cast("bigint").alias("sr2"))
            )
        )
        .crossJoin(
            F.broadcast(
                blocks.agg(F.count(F.lit(1)).cast("bigint").alias("n_blocks"))
            )
        )
    )
    kk, t = F.col("k"), F.col("t")
    return tot.select(
        "k",
        "n_blocks",
        "t",
        # saturated indicators (every block all-0 or all-k) make the
        # denominator 0: emit NULL, identically on both engines
        F.when(
            kk * t == F.col("sr2"), F.lit(None).cast("double")
        )
        .otherwise(
            F.round(
                (kk - 1.0)
                * (kk * F.col("sc2") - t.cast("double") * t)
                / (kk * t.cast("double") - F.col("sr2")),
                6,
            )
        )
        .alias("q_stat"),
        (kk - 1).cast("bigint").alias("df"),
    )


_HL_BINS = 10
_HL_MULT = 2654435761


@query(
    "q434_hosmer_lemeshow",
    oracle=f"""
WITH s AS (
  SELECT event_id, value / 500.0 AS p,
         CASE WHEN (event_id * {_HL_MULT}) % 500 < value THEN 1 ELSE 0 END AS y
  FROM events
),
g AS (
  SELECT *, NTILE({_HL_BINS}) OVER (ORDER BY p, event_id) AS decile FROM s
),
b AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(y) AS BIGINT) AS o_g,
         CAST(SUM(CAST(ROUND(p, 10) AS DECIMAL(20,10))) AS DOUBLE) AS e_g
  FROM g GROUP BY decile
)
SELECT CAST(decile AS INT) AS decile, n_g, o_g,
       ROUND(e_g, 6) AS e_g,
       ROUND(o_g / CAST(n_g AS DOUBLE), 6) AS obs_rate,
       ROUND(e_g / n_g, 6) AS pred_rate,
       ROUND(POW(o_g - e_g, 2) / (e_g * (1.0 - e_g / n_g)), 6) AS hl_term
FROM b
""",
)
def q434_hosmer_lemeshow(spark, sf_dir):
    """HOSMER-LEMESHOW calibration test over DECILE bins (the
    goodness-of-fit companion to q205's Brier reliability — q205 bins
    by the score DOMAIN, HL bins by equal-population deciles of the
    predicted probability, which is what makes it a test rather than a
    diagram; the outcome is a deterministic pseudo-Bernoulli whose
    true rate matches the prediction, so a calibrated HL is the
    expected readout): per decile the observed events, expected events
    (DECIMAL-exact Σp), and the HL chi-square term
    (O−E)²/(E(1−E/n)).

    Scale discipline: the decile assignment is NTILE over a global
    order — computed with `distributed_row_number` (bucket-prefix) +
    `ntile_expr` closed-form arithmetic, never a single-partition
    window; the oracle's NTILE is semantically identical by the
    ntile_expr contract."""
    from variantcalling_spark.operators.ordered import (
        distributed_row_number,
        ntile_expr,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("value") / 500.0).alias("p"),
        F.when(
            (F.col("event_id") * _HL_MULT) % 500 < F.col("value"), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    n_tot = ev.agg(F.count(F.lit(1)).alias("n")).collect()[0].n
    ranked = distributed_row_number(
        ev, ["p", "event_id"], F.floor(F.col("p") * 50).cast("bigint")
    )
    g = ranked.withColumn(
        "decile", ntile_expr(F.col("rn"), F.lit(n_tot), _HL_BINS)
    )
    b = g.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("y").cast("bigint").alias("o_g"),
        F.sum(F.round(F.col("p"), 10).cast("decimal(20,10)"))
        .cast("double")
        .alias("e_g"),
    )
    o, e, n = F.col("o_g"), F.col("e_g"), F.col("n_g")
    return b.select(
        F.col("decile").cast("int").alias("decile"),
        "n_g",
        "o_g",
        F.round(e, 6).alias("e_g"),
        F.round(o / n.cast("double"), 6).alias("obs_rate"),
        F.round(e / n, 6).alias("pred_rate"),
        F.round(F.pow(o - e, 2) / (e * (1.0 - e / n)), 6).alias("hl_term"),
    )


@query(
    "q435_chow_test",
    oracle="""
WITH daily AS (
  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS m
  FROM events GROUP BY 1, 2
),
ix AS (
  SELECT event_type, m,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
seg AS (
  SELECT event_type, t, n, m,
         CASE WHEN t * 2 <= n THEN 1 ELSE 2 END AS half
  FROM ix
),
mom AS (
  SELECT event_type, half, CAST(COUNT(*) AS BIGINT) AS n_s,
         CAST(SUM(t) AS BIGINT) AS sx,
         CAST(SUM(t * t) AS BIGINT) AS sxx,
         CAST(SUM(CAST(ROUND(m, 6) AS DECIMAL(20,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(m * m, 10) AS DECIMAL(26,10))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(ROUND(t * m, 8) AS DECIMAL(24,8))) AS DOUBLE) AS sxy
  FROM seg GROUP BY event_type, half
),
pooled AS (
  SELECT event_type, CAST(SUM(n_s) AS BIGINT) AS n_s,
         CAST(SUM(sx) AS BIGINT) AS sx, CAST(SUM(sxx) AS BIGINT) AS sxx,
         SUM(sy) AS sy, SUM(syy) AS syy, SUM(sxy) AS sxy
  FROM mom GROUP BY event_type
),
ssr AS (
  SELECT event_type, half, n_s,
         syy - sy * sy / n_s
           - POW(sxy - sx * sy / n_s, 2) / (sxx - CAST(sx AS DOUBLE) * sx / n_s)
           AS ss
  FROM mom
),
ssrp AS (
  SELECT event_type, n_s,
         syy - sy * sy / n_s
           - POW(sxy - sx * sy / n_s, 2) / (sxx - CAST(sx AS DOUBLE) * sx / n_s)
           AS ss
  FROM pooled
)
SELECT p.event_type, p.n_s AS n,
       ROUND(p.ss, 6) AS ssr_pooled,
       ROUND(s1.ss + s2.ss, 6) AS ssr_split,
       ROUND(((p.ss - s1.ss - s2.ss) / 2.0)
             / ((s1.ss + s2.ss) / (p.n_s - 4.0)), 6) AS chow_f
FROM ssrp p
JOIN ssr s1 ON s1.event_type = p.event_type AND s1.half = 1
JOIN ssr s2 ON s2.event_type = p.event_type AND s2.half = 2
""",
)
def q435_chow_test(spark, sf_dir):
    """CHOW STRUCTURAL-BREAK TEST per metric series (did the linear
    trend CHANGE at the series midpoint? — the regression-regime
    sibling of q197's CUSUM and q335's binseg, which find WHERE a mean
    shifted; Chow tests whether the trend LINE itself broke): OLS of
    daily mean on time for the pooled series vs the two halves, with
    F = ((SSR_p − SSR_1 − SSR_2)/k) / ((SSR_1+SSR_2)/(n−2k)), k=2.

    Exactness: every OLS input is a moment sum (Σt, Σt², Σm, Σm², Σtm)
    with the float products rounded and summed in DECIMAL — the SSR
    closed forms then have identical shapes cross-engine. Windows are
    per-series only (day indexing)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        (F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias("m")
    )
    wd = W.partitionBy("event_type")
    ix = daily.select(
        "event_type",
        "m",
        F.row_number().over(wd.orderBy("day")).alias("t"),
        F.count(F.lit(1)).over(wd).alias("n"),
    )
    seg = ix.select(
        "event_type",
        "t",
        "m",
        F.when(F.col("t") * 2 <= F.col("n"), 1).otherwise(2).alias("half"),
    )
    t, m = F.col("t"), F.col("m")

    def moments(df, keys):
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_s"),
            F.sum(t).cast("bigint").alias("sx"),
            F.sum(t * t).cast("bigint").alias("sxx"),
            F.sum(F.round(m, 6).cast("decimal(20,6)")).cast("double").alias("sy"),
            F.sum(F.round(m * m, 10).cast("decimal(26,10)"))
            .cast("double")
            .alias("syy"),
            F.sum(F.round(t * m, 8).cast("decimal(24,8)"))
            .cast("double")
            .alias("sxy"),
        )

    def ss(df):
        return df.withColumn(
            "ss",
            F.col("syy")
            - F.col("sy") * F.col("sy") / F.col("n_s")
            - F.pow(
                F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n_s"), 2
            )
            / (
                F.col("sxx")
                - F.col("sx").cast("double") * F.col("sx") / F.col("n_s")
            ),
        )

    mom = moments(seg, ["event_type", "half"])
    halves = ss(mom)
    pooled = ss(
        mom.groupBy("event_type").agg(
            F.sum("n_s").cast("bigint").alias("n_s"),
            F.sum("sx").cast("bigint").alias("sx"),
            F.sum("sxx").cast("bigint").alias("sxx"),
            F.sum("sy").alias("sy"),
            F.sum("syy").alias("syy"),
            F.sum("sxy").alias("sxy"),
        )
    )
    s1 = halves.where(F.col("half") == 1).select(
        "event_type", F.col("ss").alias("ss1")
    )
    s2 = halves.where(F.col("half") == 2).select(
        "event_type", F.col("ss").alias("ss2")
    )
    return (
        pooled.join(s1, "event_type")
        .join(s2, "event_type")
        .select(
            "event_type",
            F.col("n_s").alias("n"),
            F.round("ss", 6).alias("ssr_pooled"),
            F.round(F.col("ss1") + F.col("ss2"), 6).alias("ssr_split"),
            F.round(
                ((F.col("ss") - F.col("ss1") - F.col("ss2")) / 2.0)
                / ((F.col("ss1") + F.col("ss2")) / (F.col("n_s") - 4.0)),
                6,
            ).alias("chow_f"),
        )
    )


@query(
    "q436_jonckheere_terpstra",
    oracle="""
WITH s AS (
  SELECT event_type, user_id % 5 AS grp, value AS v FROM events
),
pairsdef AS (
  SELECT i, j FROM (SELECT unnest(generate_series(0, 4)) AS i),
                   (SELECT unnest(generate_series(0, 4)) AS j)
  WHERE i < j
),
u AS (
  SELECT a.event_type, p.i, p.j,
         CAST(SUM(CASE WHEN a.v < b.v THEN 2
                       WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT) AS u2
  FROM pairsdef p
  JOIN s a ON a.grp = p.i
  JOIN s b ON b.grp = p.j AND b.event_type = a.event_type
  GROUP BY a.event_type, p.i, p.j
),
jt AS (
  SELECT event_type, CAST(SUM(u2) AS BIGINT) AS jt2 FROM u
  GROUP BY event_type
),
gn AS (
  SELECT event_type, grp, CAST(COUNT(*) AS BIGINT) AS n_g
  FROM s GROUP BY event_type, grp
),
tot AS (
  SELECT event_type, CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(n_g * n_g) AS BIGINT) AS sn2,
         CAST(SUM(n_g * n_g * (2 * n_g + 3)) AS BIGINT) AS sn23
  FROM gn GROUP BY event_type
)
SELECT jt.event_type, t.n, jt.jt2,
       CAST((t.n * t.n - t.sn2) AS BIGINT) AS mu2,
       ROUND((jt.jt2 - (t.n * t.n - t.sn2)) / 2.0
             / sqrt((CAST(t.n AS DOUBLE) * t.n * (2 * t.n + 3) - t.sn23)
                    / 72.0), 6) AS z_no_ties
FROM jt JOIN tot t ON t.event_type = jt.event_type
""",
)
def q436_jonckheere_terpstra(spark, sf_dir):
    """JONCKHEERE-TERPSTRA ordered-alternative test per metric series
    (do values RISE monotonically across the ordered cohorts 0..4? —
    q428's Kruskal-Wallis asks 'any difference', JT asks 'an ordered
    trend', which is the sharper question for dose/cohort designs):
    JT = Σ_{{i<j}} Mann-Whitney counts, held exact as 2·#{{a<b}} +
    #{{a=b}} integers per ordered group pair; the z uses the standard
    no-tie variance (labeled so — the tie-exact statistic jt2 is the
    hash-checked value).

    Scale shape: group-pair comparisons run as 10 bounded equi-joins
    on (event_type) with map-side-combinable counts — the group
    domains are cohorts, so the join is sum-of-products over cohort
    sizes per series, a banded-pair shape, not an all-pairs row join.
    No windows anywhere."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 5).alias("grp"), F.col("value").alias("v")
    ).transform(managed_persist)
    out = None
    for i in range(5):
        for j in range(i + 1, 5):
            a = ev.where(F.col("grp") == i).select(
                "event_type", F.col("v").alias("va")
            )
            b = ev.where(F.col("grp") == j).select(
                "event_type", F.col("v").alias("vb")
            )
            u = (
                a.join(b, "event_type")
                .groupBy("event_type")
                .agg(
                    F.sum(
                        F.when(F.col("va") < F.col("vb"), 2)
                        .when(F.col("va") == F.col("vb"), 1)
                        .otherwise(0)
                    )
                    .cast("bigint")
                    .alias("u2")
                )
            )
            out = u if out is None else out.unionByName(u)
    jt = out.groupBy("event_type").agg(F.sum("u2").cast("bigint").alias("jt2"))
    gn = ev.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g")
    )
    ng = F.col("n_g")
    tot = gn.groupBy("event_type").agg(
        F.sum(ng).cast("bigint").alias("n"),
        F.sum(ng * ng).cast("bigint").alias("sn2"),
        F.sum(ng * ng * (2 * ng + 3)).cast("bigint").alias("sn23"),
    )
    n = F.col("n")
    return jt.join(tot, "event_type").select(
        "event_type",
        "n",
        "jt2",
        (n * n - F.col("sn2")).cast("bigint").alias("mu2"),
        F.round(
            (F.col("jt2") - (n * n - F.col("sn2")))
            / 2.0
            / F.sqrt(
                (n.cast("double") * n * (2 * n + 3) - F.col("sn23")) / 72.0
            ),
            6,
        ).alias("z_no_ties"),
    )


@query(
    "q437_granger_lite",
    oracle="""
WITH daily AS (
  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS m
  FROM events GROUP BY 1, 2
),
lagd AS (
  SELECT event_type, day, m,
         LAG(m) OVER (PARTITION BY event_type ORDER BY day) AS mp
  FROM daily
),
xy AS (
  SELECT a.event_type AS cause, b.event_type AS effect,
         b.m AS y, b.mp AS ylag, a.mp AS xlag
  FROM lagd b JOIN lagd a ON a.day = b.day
  WHERE a.event_type <> b.event_type
    AND b.mp IS NOT NULL AND a.mp IS NOT NULL
),
mom AS (
  SELECT cause, effect, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(y, 6) AS DECIMAL(20,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(ylag, 6) AS DECIMAL(20,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(ROUND(xlag, 6) AS DECIMAL(20,6))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(ROUND(y * y, 10) AS DECIMAL(26,10))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(ROUND(ylag * ylag, 10) AS DECIMAL(26,10))) AS DOUBLE) AS s11,
         CAST(SUM(CAST(ROUND(xlag * xlag, 10) AS DECIMAL(26,10))) AS DOUBLE) AS s22,
         CAST(SUM(CAST(ROUND(y * ylag, 10) AS DECIMAL(26,10))) AS DOUBLE) AS sy1,
         CAST(SUM(CAST(ROUND(y * xlag, 10) AS DECIMAL(26,10))) AS DOUBLE) AS sy2,
         CAST(SUM(CAST(ROUND(ylag * xlag, 10) AS DECIMAL(26,10))) AS DOUBLE) AS s12
  FROM xy GROUP BY cause, effect
),
c AS (
  SELECT cause, effect, n,
         syy - sy * sy / n AS cyy,
         s11 - s1 * s1 / n AS c11,
         s22 - s2 * s2 / n AS c22,
         sy1 - sy * s1 / n AS cy1,
         sy2 - sy * s2 / n AS cy2,
         s12 - s1 * s2 / n AS c12
  FROM mom
)
SELECT cause, effect, n,
       ROUND(cyy - cy1 * cy1 / c11, 6) AS ssr_restricted,
       ROUND(cyy - (c22 * cy1 * cy1 - 2 * c12 * cy1 * cy2 + c11 * cy2 * cy2)
                   / (c11 * c22 - c12 * c12), 6) AS ssr_full,
       ROUND(((cyy - cy1 * cy1 / c11)
              - (cyy - (c22 * cy1 * cy1 - 2 * c12 * cy1 * cy2 + c11 * cy2 * cy2)
                       / (c11 * c22 - c12 * c12)))
             / ((cyy - (c22 * cy1 * cy1 - 2 * c12 * cy1 * cy2 + c11 * cy2 * cy2)
                       / (c11 * c22 - c12 * c12)) / (n - 3.0)), 6) AS granger_f
FROM c
""",
)
def q437_granger_lite(spark, sf_dir):
    """GRANGER CAUSALITY (lag-1) between every ordered pair of metric
    series (does yesterday's series A improve today's B beyond B's own
    history? — the directional companion to q298's ACF and q262's
    Markov transitions, and the causal-screen a metrics pipeline runs
    before claiming one KPI drives another): restricted OLS y~y_lag vs
    full OLS y~y_lag+x_lag in closed form from centered moment sums,
    F = (SSR_r − SSR_f)/(SSR_f/(n−3)).

    Exactness: all moment sums are rounded-then-DECIMAL (order-free);
    the 2-regressor normal equations are solved symbolically (Cramer),
    so both engines evaluate the identical rational expression. Lag
    alignment is a per-series window + a day equi-join; 5x4 ordered
    pairs = 20 output rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        (F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias("m")
    )
    wd = W.partitionBy("event_type").orderBy("day")
    lagd = daily.select(
        "event_type", "day", "m", F.lag("m").over(wd).alias("mp")
    ).transform(managed_persist)
    b = lagd.select(
        F.col("event_type").alias("effect"),
        "day",
        F.col("m").alias("y"),
        F.col("mp").alias("ylag"),
    )
    a = lagd.select(
        F.col("event_type").alias("cause"), "day", F.col("mp").alias("xlag")
    )
    xy = (
        b.join(a, "day")
        .where(
            (F.col("cause") != F.col("effect"))
            & F.col("ylag").isNotNull()
            & F.col("xlag").isNotNull()
        )
    )

    def dsum10(c, alias):
        return (
            F.sum(F.round(c, 10).cast("decimal(26,10)")).cast("double").alias(alias)
        )

    def dsum6(c, alias):
        return (
            F.sum(F.round(c, 6).cast("decimal(20,6)")).cast("double").alias(alias)
        )

    y, y1, x1 = F.col("y"), F.col("ylag"), F.col("xlag")
    mom = xy.groupBy("cause", "effect").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum6(y, "sy"),
        dsum6(y1, "s1"),
        dsum6(x1, "s2"),
        dsum10(y * y, "syy"),
        dsum10(y1 * y1, "s11"),
        dsum10(x1 * x1, "s22"),
        dsum10(y * y1, "sy1"),
        dsum10(y * x1, "sy2"),
        dsum10(y1 * x1, "s12"),
    )
    n = F.col("n")
    c = mom.select(
        "cause",
        "effect",
        "n",
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("cyy"),
        (F.col("s11") - F.col("s1") * F.col("s1") / n).alias("c11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / n).alias("c22"),
        (F.col("sy1") - F.col("sy") * F.col("s1") / n).alias("cy1"),
        (F.col("sy2") - F.col("sy") * F.col("s2") / n).alias("cy2"),
        (F.col("s12") - F.col("s1") * F.col("s2") / n).alias("c12"),
    )
    cyy, c11, c22 = F.col("cyy"), F.col("c11"), F.col("c22")
    cy1, cy2, c12 = F.col("cy1"), F.col("cy2"), F.col("c12")
    ssr_r = cyy - cy1 * cy1 / c11
    ssr_f = cyy - (c22 * cy1 * cy1 - 2 * c12 * cy1 * cy2 + c11 * cy2 * cy2) / (
        c11 * c22 - c12 * c12
    )
    return c.select(
        "cause",
        "effect",
        "n",
        F.round(ssr_r, 6).alias("ssr_restricted"),
        F.round(ssr_f, 6).alias("ssr_full"),
        F.round((ssr_r - ssr_f) / (ssr_f / (n - F.lit(3.0))), 6).alias(
            "granger_f"
        ),
    )


_KRIPP_RATERS = 3


@query(
    "q438_krippendorff_alpha",
    oracle=f"""
WITH ann AS (
  SELECT d.doc_id, r.rater,
         CASE WHEN (d.doc_id * 31 + r.rater * 17
                    + CAST(d.n_chars AS BIGINT)) % 10 < 7
              THEN d.n_chars // 500
              ELSE (d.n_chars // 500) + (d.doc_id + r.rater) % 2 END AS label
  FROM documents d
  CROSS JOIN (SELECT unnest(generate_series(0, {_KRIPP_RATERS - 1})) AS rater) r
  WHERE (d.doc_id + r.rater) % 7 <> 0
),
units AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m FROM ann GROUP BY doc_id
  HAVING COUNT(*) >= 2
),
pairs AS (
  SELECT a.doc_id, u.m,
         CASE WHEN a.label = b.label THEN 0 ELSE 1 END AS dis
  FROM ann a
  JOIN ann b ON b.doc_id = a.doc_id AND a.rater < b.rater
  JOIN units u ON u.doc_id = a.doc_id
),
do_ AS (
  SELECT CAST(SUM(CAST(ROUND(dis / (m - 1.0), 10) AS DECIMAL(20,10)))
              AS DOUBLE) * 2 AS d_o,
         CAST((SELECT SUM(m) FROM units) AS BIGINT) AS n_vals
  FROM pairs
),
marg AS (
  SELECT ann.label, CAST(COUNT(*) AS BIGINT) AS c
  FROM ann JOIN units ON units.doc_id = ann.doc_id
  GROUP BY ann.label
),
de AS (
  SELECT CAST(SUM(a.c * b.c) AS BIGINT) AS cross_sum
  FROM marg a JOIN marg b ON a.label <> b.label
)
SELECT d.n_vals,
       CAST((SELECT COUNT(*) FROM units) AS BIGINT) AS n_units,
       CAST((SELECT COUNT(*) FROM marg) AS BIGINT) AS n_labels,
       ROUND(d.d_o / d.n_vals, 6) AS d_obs,
       ROUND(e.cross_sum / (CAST(d.n_vals AS DOUBLE) * (d.n_vals - 1)), 6)
         AS d_exp,
       ROUND(1.0 - (d.d_o / d.n_vals)
             / (e.cross_sum / (CAST(d.n_vals AS DOUBLE) * (d.n_vals - 1))), 6)
         AS alpha
FROM do_ d CROSS JOIN de e
""",
)
def q438_krippendorff_alpha(spark, sf_dir):
    """KRIPPENDORFF'S ALPHA, nominal data (the inter-annotator
    agreement coefficient for LABEL-QUALITY audits with MANY raters
    and MISSING ratings — q203's Cohen kappa handles exactly 2
    complete raters; real annotation pipelines have k raters and
    holes, which is Krippendorff's whole point): {_KRIPP_RATERS}
    deterministic synthetic annotators label documents by size bucket
    with hash-controlled disagreement and hash-controlled missingness;
    alpha = 1 − D_o/D_e over pairable values, all disagreement counts
    integer-exact (nominal metric), only the final ratios touch
    doubles.

    Scale shape: within-unit rater pairs are bounded (m<=k per doc);
    the expected disagreement needs only the label marginals — two
    combinable aggregates and a k*k label cross join."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    raters = spark.range(0, _KRIPP_RATERS).select(F.col("id").alias("rater"))
    base = F.expr("n_chars DIV 500")
    ann = (
        docs.crossJoin(F.broadcast(raters))
        .where((F.col("doc_id") + F.col("rater")) % 7 != 0)
        .select(
            "doc_id",
            "rater",
            F.when(
                (
                    F.col("doc_id") * 31
                    + F.col("rater") * 17
                    + F.col("n_chars").cast("bigint")
                )
                % 10
                < 7,
                base,
            )
            .otherwise(base + (F.col("doc_id") + F.col("rater")) % 2)
            .alias("label"),
        )
        .transform(managed_persist)
    )
    units = (
        ann.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
        .where(F.col("m") >= 2)
    )
    a = ann.select("doc_id", F.col("rater").alias("ra"), F.col("label").alias("la"))
    b = ann.select("doc_id", F.col("rater").alias("rb"), F.col("label").alias("lb"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("ra") < F.col("rb"))
        .join(units, "doc_id")
        .select(
            F.when(F.col("la") == F.col("lb"), 0).otherwise(1).alias("dis"),
            "m",
        )
    )
    do_ = pairs.agg(
        (
            F.sum(
                F.round(F.col("dis") / (F.col("m") - F.lit(1.0)), 10).cast(
                    "decimal(20,10)"
                )
            ).cast("double")
            * 2
        ).alias("d_o")
    )
    n_vals = units.agg(F.sum("m").cast("bigint").alias("n_vals"))
    marg = (
        ann.join(units, "doc_id")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .transform(managed_persist)
    )
    ma = marg.select(F.col("label").alias("la"), F.col("c").alias("ca"))
    mb = marg.select(F.col("label").alias("lb"), F.col("c").alias("cb"))
    de = (
        ma.crossJoin(mb)
        .where(F.col("la") != F.col("lb"))
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("cross_sum"))
    )
    nu = units.agg(F.count(F.lit(1)).cast("bigint").alias("n_units"))
    nl = marg.agg(F.count(F.lit(1)).cast("bigint").alias("n_labels"))
    nv, dob = F.col("n_vals"), F.col("d_o")
    d_obs = dob / nv
    d_exp = F.col("cross_sum") / (nv.cast("double") * (nv - 1))
    return (
        n_vals.crossJoin(F.broadcast(do_))
        .crossJoin(F.broadcast(de))
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nl))
        .select(
            "n_vals",
            "n_units",
            "n_labels",
            F.round(d_obs, 6).alias("d_obs"),
            F.round(d_exp, 6).alias("d_exp"),
            F.round(1.0 - d_obs / d_exp, 6).alias("alpha"),
        )
    )


@query(
    "q440_pacf_durbin_levinson",
    oracle="""
WITH hourly AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 3600000000000 AS h,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, h
),
stats AS MATERIALIZED (
  SELECT event_type,
         ROUND(CAST(SUM(CAST(m AS DECIMAL(16,6))) AS DOUBLE) / COUNT(*), 6) AS mbar,
         CAST(COUNT(*) AS BIGINT) AS n_hours
  FROM hourly GROUP BY event_type
),
dev AS MATERIALIZED (
  SELECT h.event_type, h.h, h.m - s.mbar AS d
  FROM hourly h JOIN stats s ON s.event_type = h.event_type
),
den AS (
  SELECT event_type,
         CAST(SUM(CAST(ROUND(d * d, 10) AS DECIMAL(24,10))) AS DOUBLE) AS ss
  FROM dev GROUP BY event_type
),
lagged AS (
  SELECT a.event_type, k.k,
         CAST(SUM(CAST(ROUND(a.d * b.d, 10) AS DECIMAL(24,10))) AS DOUBLE) AS sp
  FROM dev a
  CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS k) k
  JOIN dev b ON b.event_type = a.event_type AND b.h = a.h + k.k
  GROUP BY a.event_type, k.k
),
acf AS (
  SELECT l.event_type,
         ROUND(MAX(CASE WHEN k = 1 THEN sp END) / d.ss, 10) AS r1,
         ROUND(MAX(CASE WHEN k = 2 THEN sp END) / d.ss, 10) AS r2,
         ROUND(MAX(CASE WHEN k = 3 THEN sp END) / d.ss, 10) AS r3
  FROM lagged l JOIN den d ON d.event_type = l.event_type
  GROUP BY l.event_type, d.ss
),
dl AS (
  SELECT event_type, r1, r2, r3,
         r1 AS phi11,
         ROUND((r2 - r1 * r1) / (1.0 - r1 * r1), 10) AS phi22
  FROM acf
),
dl2 AS (
  SELECT *, ROUND(r1 - phi22 * r1, 10) AS phi21 FROM dl
)
SELECT event_type,
       ROUND(phi11, 6) AS pacf1,
       ROUND(phi22, 6) AS pacf2,
       ROUND((r3 - phi21 * r2 - phi22 * r1)
             / (1.0 - phi21 * r1 - phi22 * r2), 6) AS pacf3
FROM dl2
""",
)
def q440_pacf_durbin_levinson(spark, sf_dir):
    """PARTIAL AUTOCORRELATION at lags 1-3 via the Durbin-Levinson
    recursion (the AR-order identification companion to q298's ACF —
    ACF says 'correlated at lag k', PACF says 'correlated at lag k
    AFTER removing shorter lags', which is what picks the AR order):
    sample ACF from the q298 hourly-mean deviation grid, then the
    closed-form recursion phi11=r1, phi22=(r2−r1²)/(1−r1²),
    phi33=(r3−phi21·r2−phi22·r1)/(1−phi21·r1−phi22·r2), every
    intermediate snapped to 10dp so the rational walk is engine-exact.

    Scale shape: identical to q298 (hourly grid + lag self-joins, all
    per-series); the recursion itself runs on the 5-row ACF table."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 3600000000000").alias("h")
    ).agg(
        F.round(
            F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6
        ).alias("m")
    )
    stats = hourly.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("m").cast("decimal(16,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mbar"),
    )
    dev = hourly.join(stats, "event_type").select(
        "event_type", "h", (F.col("m") - F.col("mbar")).alias("d")
    ).transform(managed_persist)
    den = dev.groupBy("event_type").agg(
        F.sum(F.round(F.col("d") * F.col("d"), 10).cast("decimal(24,10)"))
        .cast("double")
        .alias("ss")
    )
    ks = spark.range(1, 4).select(F.col("id").alias("k"))
    a = dev.crossJoin(F.broadcast(ks))
    b = dev.select(
        "event_type", F.col("h").alias("hb"), F.col("d").alias("db")
    )
    lagged = (
        a.join(
            b,
            (a.event_type == b.event_type) & (b.hb == a.h + F.col("k")),
        )
        .drop(b.event_type)
        .groupBy("event_type", "k")
        .agg(
            F.sum(F.round(F.col("d") * F.col("db"), 10).cast("decimal(24,10)"))
            .cast("double")
            .alias("sp")
        )
    )
    acf = (
        lagged.join(den, "event_type")
        .groupBy("event_type", "ss")
        .agg(
            F.round(
                F.max(F.when(F.col("k") == 1, F.col("sp"))) / F.col("ss"), 10
            ).alias("r1"),
            F.round(
                F.max(F.when(F.col("k") == 2, F.col("sp"))) / F.col("ss"), 10
            ).alias("r2"),
            F.round(
                F.max(F.when(F.col("k") == 3, F.col("sp"))) / F.col("ss"), 10
            ).alias("r3"),
        )
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    dl = acf.select(
        "event_type",
        "r1",
        "r2",
        "r3",
        r1.alias("phi11"),
        F.round((r2 - r1 * r1) / (1.0 - r1 * r1), 10).alias("phi22"),
    )
    dl2 = dl.withColumn(
        "phi21", F.round(r1 - F.col("phi22") * r1, 10)
    )
    return dl2.select(
        "event_type",
        F.round(F.col("phi11"), 6).alias("pacf1"),
        F.round(F.col("phi22"), 6).alias("pacf2"),
        F.round(
            (r3 - F.col("phi21") * r2 - F.col("phi22") * r1)
            / (1.0 - F.col("phi21") * r1 - F.col("phi22") * r2),
            6,
        ).alias("pacf3"),
    )


@query(
    "q446_weibull_fit",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t1
  FROM events GROUP BY user_id
),
subj AS (
  SELECT (t1 - t0) // {DAY_US} AS dur
  FROM per_user WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
),
pos AS (
  SELECT dur, CAST(COUNT(*) AS BIGINT) AS c FROM subj WHERE dur >= 1 GROUP BY dur
),
rk AS (
  SELECT dur, c,
         CAST(SUM(c) OVER (ORDER BY dur
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST((SELECT SUM(c) FROM pos) AS BIGINT) AS n
  FROM pos
),
xy AS (
  SELECT dur,
         ROUND(ln(CAST(dur AS DOUBLE)), 10) AS x,
         ROUND(ln(-ln(1.0 - (cum - 0.3 * c / c) / (n + 0.4))), 10) AS y_raw,
         ROUND(ln(-ln(1.0 - (cum - 0.3) / (n + 0.4))), 10) AS y,
         c, n
  FROM rk WHERE cum < n + 1
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(20,10))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(26,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(26,12))) AS DOUBLE) AS sxy
  FROM xy
)
SELECT k AS n_points,
       ROUND((sxy - sx * sy / k) / (sxx - sx * sx / k), 6) AS shape_k,
       ROUND(exp(-(sy / k - (sxy - sx * sy / k) / (sxx - sx * sx / k) * sx / k)
                 / ((sxy - sx * sy / k) / (sxx - sx * sx / k))), 6) AS scale_days
FROM mom
""",
)
def q446_weibull_fit(spark, sf_dir):
    """WEIBULL SURVIVAL-PARAMETER FIT by median-rank regression (the
    PARAMETRIC complement to q206's Kaplan-Meier and q286's
    Nelson-Aalen: KM draws the curve, this compresses it to the
    (shape, scale) pair capacity/churn models consume; shape < 1 =
    early-failure churn, > 1 = wear-out): uncensored signup→purchase
    durations, Benard median-rank plotting positions
    F_i = (cum−0.3)/(n+0.4) over the integer-day histogram, then OLS
    of ln(−ln(1−F)) on ln(t) in closed form — shape = slope,
    scale = exp(−intercept/slope).

    Scale discipline: the only window is the duration-histogram prefix
    (integer-day domain, the q206 allowlist class); moments are
    DECIMAL-exact sums."""
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", F.expr("ts_ns DIV 1000"))
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts_us"))
        ).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts_us"))
        ).alias("t1"),
    )
    subj = per_user.where(
        F.col("t0").isNotNull() & F.col("t1").isNotNull() & (F.col("t1") > F.col("t0"))
    ).select(F.expr(f"(t1 - t0) DIV {DAY_US}").alias("dur"))
    pos = (
        subj.where(F.col("dur") >= 1)
        .groupBy("dur")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w_cum = W.orderBy("dur").rowsBetween(W.unboundedPreceding, 0)
    n_tot = pos.agg(F.sum("c").cast("bigint").alias("n"))
    rk = pos.select(
        "dur", "c", F.sum("c").over(w_cum).cast("bigint").alias("cum")
    ).crossJoin(F.broadcast(n_tot))
    xy = rk.where(F.col("cum") < F.col("n") + 1).select(
        F.round(F.log(F.col("dur").cast("double")), 10).alias("x"),
        F.round(
            F.log(
                -F.log(
                    1.0 - (F.col("cum") - 0.3) / (F.col("n") + 0.4)
                )
            ),
            10,
        ).alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    mom = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(x.cast("decimal(20,10)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(20,10)")).cast("double").alias("sy"),
        F.sum(F.round(x * x, 12).cast("decimal(26,12)")).cast("double").alias("sxx"),
        F.sum(F.round(x * y, 12).cast("decimal(26,12)")).cast("double").alias("sxy"),
    )
    k = F.col("k")
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / k) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / k
    )
    intercept = F.col("sy") / k - slope * F.col("sx") / k
    return mom.select(
        k.alias("n_points"),
        F.round(slope, 6).alias("shape_k"),
        F.round(F.exp(-intercept / slope), 6).alias("scale_days"),
    )


@query(
    "q447_heavy_changers",
    oracle="""
WITH d AS (
  SELECT epoch_ns(ts) // 86400000000000 AS day,
         user_id % 100 AS key_
  FROM events
),
lim AS (
  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM d
),
split_ AS (
  SELECT key_,
         CAST(SUM(CASE WHEN day * 2 <= (SELECT d0 + d1 FROM lim)
                       THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN day * 2 > (SELECT d0 + d1 FROM lim)
                       THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM d GROUP BY key_
),
scored AS (
  SELECT key_, c1, c2,
         CAST(ABS(c2 - c1) AS BIGINT) AS abs_change,
         ROUND((c2 - c1) / (c1 + 1.0), 6) AS rel_change
  FROM split_
)
SELECT CAST(key_ AS BIGINT) AS key, c1 AS n_first_half, c2 AS n_second_half,
       abs_change, rel_change,
       CAST(ROW_NUMBER() OVER (ORDER BY abs_change DESC, key_) AS INT) AS rnk
FROM (SELECT * FROM scored ORDER BY abs_change DESC, key_ LIMIT 10)
""",
)
def q447_heavy_changers(spark, sf_dir):
    """HEAVY CHANGERS between the two halves of the event window (the
    monitoring twin of q228's heavy HITTERS: hitters answer 'what is
    big', changers answer 'what moved' — the anomaly feed a traffic/
    abuse pipeline actually alerts on): per-key first-half vs
    second-half counts in one conditional aggregate (no self-join of
    two day-filtered scans), |delta| top-10 via TakeOrdered, smoothed
    relative change alongside.

    Scale shape: ONE combinable aggregate over the key domain + a
    top-k heap; the midpoint is a broadcast scalar."""
    from pyspark.sql import Window as W2

    ev = load_table(spark, sf_dir, "events").select(
        F.expr("ts_ns DIV 86400000000000").alias("day"),
        (F.col("user_id") % 100).alias("key_"),
    )
    lim = ev.agg(
        (F.min("day") + F.max("day")).alias("dsum")
    )
    split_ = (
        ev.crossJoin(F.broadcast(lim))
        .groupBy("key_")
        .agg(
            F.sum(F.when(F.col("day") * 2 <= F.col("dsum"), 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(F.col("day") * 2 > F.col("dsum"), 1).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
    )
    scored = split_.select(
        "key_",
        "c1",
        "c2",
        F.abs(F.col("c2") - F.col("c1")).cast("bigint").alias("abs_change"),
        F.round((F.col("c2") - F.col("c1")) / (F.col("c1") + 1.0), 6).alias(
            "rel_change"
        ),
    )
    top = scored.orderBy(F.col("abs_change").desc(), "key_").limit(10)
    return top.select(
        F.col("key_").cast("bigint").alias("key"),
        F.col("c1").alias("n_first_half"),
        F.col("c2").alias("n_second_half"),
        "abs_change",
        "rel_change",
        F.row_number()
        .over(W2.orderBy(F.col("abs_change").desc(), "key_"))
        .cast("int")
        .alias("rnk"),
    )


@query(
    "q448_eb_shrinkage",
    oracle="""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN n_chars > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM documents GROUP BY source
),
g AS (
  SELECT CAST(SUM(k) AS BIGINT) AS tk, CAST(SUM(n) AS BIGINT) AS tn,
         CAST(COUNT(*) AS BIGINT) AS n_src,
         CAST(SUM(CAST(ROUND(POW(k / CAST(n AS DOUBLE)
                                 - (SELECT SUM(k) FROM s)
                                   / CAST((SELECT SUM(n) FROM s) AS DOUBLE), 2),
                             12) AS DECIMAL(26,12))) AS DOUBLE) AS ssb,
         CAST(SUM(CAST(ROUND(k * (n - k) / (CAST(n AS DOUBLE) * n * n), 12)
                       AS DECIMAL(26,12))) AS DOUBLE) AS svw,
         CAST(MIN(n) AS BIGINT) AS n_min
  FROM s
),
prior AS (
  SELECT tk / CAST(tn AS DOUBLE) AS mu,
         GREATEST((ssb - svw) / n_src, 0.0000001) AS tau2,
         (tk / CAST(tn AS DOUBLE)) * (1 - tk / CAST(tn AS DOUBLE)) AS mv
  FROM g
)
SELECT s.source, s.n, s.k,
       ROUND(s.k / CAST(s.n AS DOUBLE), 6) AS raw_rate,
       ROUND(p.mu, 6) AS prior_mean,
       ROUND(p.mv / (p.tau2 * s.n), 6) AS shrink_units,
       ROUND((s.k + p.mu * (p.mv / p.tau2))
             / (s.n + p.mv / p.tau2), 6) AS shrunk_rate
FROM s CROSS JOIN prior p
""",
)
def q448_eb_shrinkage(spark, sf_dir):
    """EMPIRICAL-BAYES RATE SHRINKAGE per source (the beta-binomial
    moment-matched James-Stein move every per-segment rate dashboard
    needs — small sources' raw rates are noise; shrinking toward the
    grand mean by the estimated between-source variance is the
    principled fix, and the prior pseudo-count m = mu(1-mu)/tau2 IS
    the method-of-moments beta prior): long-doc rate per source,
    between-source variance from one pass, shrunk rate
    (k + mu*m)/(n + m).

    Exactness: the variance components are 12dp-snapped DECIMAL sums;
    everything else is a scalar expression of exact counts. One
    combinable aggregate + a broadcast prior row."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("n_chars") > 1000, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    ).transform(managed_persist)
    tot = s.agg(
        F.sum("k").cast("bigint").alias("tk"),
        F.sum("n").cast("bigint").alias("tn"),
        F.count(F.lit(1)).cast("bigint").alias("n_src"),
    )
    mu_g = F.col("tk") / F.col("tn").cast("double")
    g = (
        s.crossJoin(F.broadcast(tot))
        .agg(
            F.max("tk").alias("tk"),
            F.max("tn").alias("tn"),
            F.max("n_src").alias("n_src"),
            F.sum(
                F.round(
                    F.pow(
                        F.col("k") / F.col("n").cast("double")
                        - F.col("tk") / F.col("tn").cast("double"),
                        2,
                    ),
                    12,
                ).cast("decimal(26,12)")
            )
            .cast("double")
            .alias("ssb"),
            F.sum(
                F.round(
                    F.col("k")
                    * (F.col("n") - F.col("k"))
                    / (F.col("n").cast("double") * F.col("n") * F.col("n")),
                    12,
                ).cast("decimal(26,12)")
            )
            .cast("double")
            .alias("svw"),
        )
    )
    prior = g.select(
        mu_g.alias("mu"),
        F.greatest(
            (F.col("ssb") - F.col("svw")) / F.col("n_src"), F.lit(0.0000001)
        ).alias("tau2"),
        (mu_g * (1 - mu_g)).alias("mv"),
    )
    m = F.col("mv") / F.col("tau2")
    return s.crossJoin(F.broadcast(prior)).select(
        "source",
        "n",
        "k",
        F.round(F.col("k") / F.col("n").cast("double"), 6).alias("raw_rate"),
        F.round(F.col("mu"), 6).alias("prior_mean"),
        F.round(m / F.col("n"), 6).alias("shrink_units"),
        F.round(
            (F.col("k") + F.col("mu") * m) / (F.col("n") + m), 6
        ).alias("shrunk_rate"),
    )


@query(
    "q449_runs_test",
    oracle="""
WITH s AS (
  SELECT event_type, epoch_ns(ts) AS t, event_id,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events
),
m AS (
  SELECT event_type, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mu
  FROM s GROUP BY event_type
),
sg AS (
  SELECT s.event_type,
         CASE WHEN CAST(s.v AS DOUBLE) > m.mu THEN 1 ELSE 0 END AS sign_,
         LAG(CASE WHEN CAST(s.v AS DOUBLE) > m.mu THEN 1 ELSE 0 END)
           OVER (PARTITION BY s.event_type ORDER BY s.t, s.event_id) AS prev_
  FROM s JOIN m ON m.event_type = s.event_type
),
agg AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN prev_ IS NULL OR sign_ <> prev_
                       THEN 1 ELSE 0 END) AS BIGINT) AS runs,
         CAST(SUM(sign_) AS BIGINT) AS n_pos,
         CAST(SUM(1 - sign_) AS BIGINT) AS n_neg
  FROM sg GROUP BY event_type
)
SELECT event_type, runs, n_pos, n_neg,
       ROUND(1.0 + 2.0 * n_pos * n_neg / (n_pos + n_neg), 6) AS expected_runs,
       ROUND((runs - (1.0 + 2.0 * n_pos * n_neg / (n_pos + n_neg)))
             / sqrt(2.0 * n_pos * n_neg * (2.0 * n_pos * n_neg - n_pos - n_neg)
                    / (POW(CAST(n_pos + n_neg AS DOUBLE), 2)
                       * (n_pos + n_neg - 1))), 6) AS z
FROM agg
""",
)
def q449_runs_test(spark, sf_dir):
    """WALD-WOLFOWITZ RUNS TEST per metric series (the SIGN-pattern
    randomness check that complements q430's Durbin-Watson: DW can
    miss sign-clustered but magnitude-balanced dependence; too few
    runs = drift/stickiness, too many = oscillation): above/below-mean
    signs under the deterministic event order, runs counted as
    sign-change points via LAG (integer-exact), expected runs and the
    normal z in closed form.

    Scale shape: one partitioned ordered window + one combinable
    aggregate; the series mean is a DECIMAL-exact broadcast."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts_ns", "event_id", dec("value").alias("v")
    )
    m = ev.groupBy("event_type").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mu")
    )
    wo = W.partitionBy("event_type").orderBy("ts_ns", "event_id")
    sg = ev.join(m, "event_type").select(
        "event_type",
        F.when(F.col("v").cast("double") > F.col("mu"), 1)
        .otherwise(0)
        .alias("sign_"),
        "ts_ns",
        "event_id",
    )
    sg = sg.select(
        "event_type", "sign_", F.lag("sign_").over(wo).alias("prev_")
    )
    agg = sg.groupBy("event_type").agg(
        F.sum(
            F.when(
                F.col("prev_").isNull() | (F.col("sign_") != F.col("prev_")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("runs"),
        F.sum("sign_").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("sign_")).cast("bigint").alias("n_neg"),
    )
    np_, nn = F.col("n_pos"), F.col("n_neg")
    exp_r = 1.0 + 2.0 * np_ * nn / (np_ + nn)
    var_r = (
        2.0
        * np_
        * nn
        * (2.0 * np_ * nn - np_ - nn)
        / (F.pow((np_ + nn).cast("double"), 2) * (np_ + nn - 1))
    )
    return agg.select(
        "event_type",
        "runs",
        "n_pos",
        "n_neg",
        F.round(exp_r, 6).alias("expected_runs"),
        F.round((F.col("runs") - exp_r) / F.sqrt(var_r), 6).alias("z"),
    )


_SPRT_K = 15


@query(
    "q450_sprt_sequential",
    oracle=f"""
WITH s AS (
  SELECT event_type, epoch_ns(ts) AS t, event_id,
         CASE WHEN value > 50 THEN 1 ELSE -1 END AS step
  FROM events
),
walk AS (
  SELECT event_type,
         SUM(step) OVER (PARTITION BY event_type ORDER BY t, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS k,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY t, event_id)
           AS rn
  FROM s
),
crossing AS (
  SELECT event_type, MIN(rn) AS stop_rn
  FROM walk WHERE ABS(k) >= {_SPRT_K} GROUP BY event_type
),
verdicts AS (
  SELECT w.event_type, c.stop_rn, w.k AS k_at_stop
  FROM walk w JOIN crossing c
    ON c.event_type = w.event_type AND w.rn = c.stop_rn
),
n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY event_type)
SELECT n.event_type, n.n,
       CAST(COALESCE(v.stop_rn, 0) AS BIGINT) AS stop_n,
       CAST(COALESCE(v.k_at_stop, 0) AS BIGINT) AS k_at_stop,
       CASE WHEN v.stop_rn IS NULL THEN 'continue'
            WHEN v.k_at_stop > 0 THEN 'accept_p1' ELSE 'accept_p0' END
         AS decision
FROM n LEFT JOIN verdicts v ON v.event_type = n.event_type
""",
)
def q450_sprt_sequential(spark, sf_dir):
    """SEQUENTIAL PROBABILITY RATIO TEST per metric series (Wald's
    SPRT — the always-valid sequential decision q382's Page-Hinkley
    cousin never gives: PH flags drift, SPRT DECIDES between two
    hypotheses with a controlled error budget and tells you WHEN it
    could have stopped): for the symmetric Bernoulli pair
    p0/p1 = 0.45/0.55 the log-likelihood ratio is an INTEGER walk
    k_t = #above − #below (each step contributes ±ln(p1/p0)), so the
    boundary |k| >= {_SPRT_K} is exact — stopping index, terminal k,
    and the decision per series with zero float arithmetic.

    Scale shape: one partitioned ordered cumsum + a per-series MIN of
    the crossing index; the boundary check is a filter."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts_ns",
        "event_id",
        F.when(F.col("value") > 50, 1).otherwise(-1).alias("step"),
    )
    wo = W.partitionBy("event_type").orderBy("ts_ns", "event_id")
    walk = ev.select(
        "event_type",
        F.sum("step").over(wo.rowsBetween(W.unboundedPreceding, 0)).alias("k"),
        F.row_number().over(wo).alias("rn"),
    ).transform(managed_persist)
    crossing = (
        walk.where(F.abs(F.col("k")) >= _SPRT_K)
        .groupBy("event_type")
        .agg(F.min("rn").alias("stop_rn"))
        .withColumnRenamed("event_type", "et")
    )
    verdicts = walk.join(
        crossing,
        (walk["event_type"] == crossing["et"])
        & (walk["rn"] == crossing["stop_rn"]),
    ).select(
        "et",
        F.col("stop_rn"),
        F.col("k").alias("k_at_stop"),
    )
    n = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = n.join(verdicts, n.event_type == verdicts.et, "left")
    return j.select(
        "event_type",
        "n",
        F.coalesce("stop_rn", F.lit(0)).cast("bigint").alias("stop_n"),
        F.coalesce("k_at_stop", F.lit(0)).cast("bigint").alias("k_at_stop"),
        F.when(F.col("stop_rn").isNull(), "continue")
        .when(F.col("k_at_stop") > 0, "accept_p1")
        .otherwise("accept_p0")
        .alias("decision"),
    )


@query(
    "q452_lead_lag_xcorr",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6)
           AS m
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type,
         ROUND(CAST(SUM(CAST(m AS DECIMAL(16,6))) AS DOUBLE) / COUNT(*), 6)
           AS mu
  FROM daily GROUP BY event_type
),
dev AS MATERIALIZED (
  SELECT d.event_type, d.day, d.m - s.mu AS x
  FROM daily d JOIN st s ON s.event_type = d.event_type
),
den AS (
  SELECT event_type,
         CAST(SUM(CAST(ROUND(x * x, 10) AS DECIMAL(24,10))) AS DOUBLE) AS ss
  FROM dev GROUP BY event_type
),
cc AS (
  SELECT a.event_type AS lead_series, b.event_type AS lag_series, l.lag,
         CAST(SUM(CAST(ROUND(a.x * b.x, 10) AS DECIMAL(24,10))) AS DOUBLE) AS sp,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM dev a
  CROSS JOIN (SELECT unnest(generate_series(-3, 3)) AS lag) l
  JOIN dev b ON b.event_type <> a.event_type AND b.day = a.day + l.lag
  GROUP BY a.event_type, b.event_type, l.lag
),
scored AS (
  SELECT cc.lead_series, cc.lag_series, cc.lag, cc.n_days,
         ROUND(cc.sp / sqrt(da.ss * db.ss), 10) AS r
  FROM cc
  JOIN den da ON da.event_type = cc.lead_series
  JOIN den db ON db.event_type = cc.lag_series
),
best AS (
  SELECT lead_series, lag_series, lag AS best_lag, n_days, r,
         ROW_NUMBER() OVER (PARTITION BY lead_series, lag_series
                            ORDER BY ABS(r) DESC, lag) AS rn
  FROM scored
)
SELECT lead_series, lag_series, CAST(best_lag AS BIGINT) AS best_lag,
       n_days, ROUND(r, 6) AS xcorr
FROM best WHERE rn = 1
""",
)
def q452_lead_lag_xcorr(spark, sf_dir):
    """LEAD-LAG CROSS-CORRELATION between every ordered series pair
    (which metric MOVES FIRST? — the shift-scan companion to q437's
    Granger F: Granger tests one fixed lag's significance, this finds
    the best-aligned lag in ±3 days by |r|): normalized
    cross-correlation at each lag from the shared daily deviation
    grid, argmax per pair with (|r| DESC, lag) tie-break on the
    10dp-snapped r.

    Scale shape: the lag scan is a day-shifted equi-join per lag (7
    bounded joins expressed as one join against the lag spine); the
    argmax window runs on the (pairs x 7)-row scored relation."""
    from pyspark.sql import Window as W2

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(
        F.round(
            F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6
        ).alias("m")
    )
    st = daily.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("m").cast("decimal(16,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mu")
    )
    dev = daily.join(st, "event_type").select(
        "event_type", "day", (F.col("m") - F.col("mu")).alias("x")
    ).transform(managed_persist)
    den = dev.groupBy("event_type").agg(
        F.sum(F.round(F.col("x") * F.col("x"), 10).cast("decimal(24,10)"))
        .cast("double")
        .alias("ss")
    )
    lags = spark.range(-3, 4).select(F.col("id").alias("lag"))
    a = dev.select(
        F.col("event_type").alias("lead_series"), "day", F.col("x").alias("xa")
    ).crossJoin(F.broadcast(lags))
    b = dev.select(
        F.col("event_type").alias("lag_series"),
        F.col("day").alias("db_day"),
        F.col("x").alias("xb"),
    )
    cc = (
        a.join(
            b,
            (F.col("lag_series") != F.col("lead_series"))
            & (F.col("db_day") == F.col("day") + F.col("lag")),
        )
        .groupBy("lead_series", "lag_series", "lag")
        .agg(
            F.sum(F.round(F.col("xa") * F.col("xb"), 10).cast("decimal(24,10)"))
            .cast("double")
            .alias("sp"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
    )
    scored = (
        cc.join(
            den.select(F.col("event_type").alias("lead_series"), F.col("ss").alias("ssa")),
            "lead_series",
        )
        .join(
            den.select(F.col("event_type").alias("lag_series"), F.col("ss").alias("ssb")),
            "lag_series",
        )
        .select(
            "lead_series",
            "lag_series",
            "lag",
            "n_days",
            F.round(
                F.col("sp") / F.sqrt(F.col("ssa") * F.col("ssb")), 10
            ).alias("r"),
        )
    )
    w = W2.partitionBy("lead_series", "lag_series").orderBy(
        F.abs(F.col("r")).desc(), "lag"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "lead_series",
            "lag_series",
            F.col("lag").cast("bigint").alias("best_lag"),
            "n_days",
            F.round("r", 6).alias("xcorr"),
        )
    )


@query(
    "q453_competing_risks",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp,
         MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS tc
  FROM events GROUP BY user_id
),
horizon AS (SELECT MAX(epoch_us(ts)) AS tmax FROM events),
subj AS (
  SELECT user_id,
         CASE
           WHEN tp IS NOT NULL AND tp > t0 AND (tc IS NULL OR tc <= t0 OR tp <= tc)
             THEN (tp - t0) // {{DAY_US}}
           WHEN tc IS NOT NULL AND tc > t0
             THEN (tc - t0) // {{DAY_US}}
           ELSE (h.tmax - t0) // {{DAY_US}} END AS dur,
         CASE
           WHEN tp IS NOT NULL AND tp > t0 AND (tc IS NULL OR tc <= t0 OR tp <= tc)
             THEN 1
           WHEN tc IS NOT NULL AND tc > t0 THEN 2
           ELSE 0 END AS cause
  FROM per_user CROSS JOIN horizon h
  WHERE t0 IS NOT NULL
),
h AS (
  SELECT dur,
         CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(COUNT(*) AS BIGINT) AS leaving
  FROM subj GROUP BY dur
),
rk AS (
  SELECT dur, d1, d2,
         CAST(SUM(leaving) OVER (ORDER BY dur DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
  FROM h
),
surv AS (
  SELECT dur, d1, d2, n_risk,
         exp(CAST(SUM(CAST(ROUND(ln((n_risk - d1 - d2)
                                     / CAST(n_risk AS DOUBLE)), 9)
                           AS DECIMAL(18,9)))
               OVER (ORDER BY dur
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS DOUBLE)) AS s_prev
  FROM rk WHERE n_risk > d1 + d2
),
cif AS (
  SELECT dur, d1, d2, n_risk,
         SUM(CAST(ROUND(COALESCE(s_prev, 1.0) * d1 / n_risk, 9)
                  AS DECIMAL(18,9)))
           OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ci1,
         SUM(CAST(ROUND(COALESCE(s_prev, 1.0) * d2 / n_risk, 9)
                  AS DECIMAL(18,9)))
           OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ci2
  FROM surv
)
SELECT dur AS duration_day, n_risk, d1 AS n_purchase, d2 AS n_click,
       ROUND(CAST(ci1 AS DOUBLE), 6) AS cif_purchase,
       ROUND(CAST(ci2 AS DOUBLE), 6) AS cif_click
FROM cif WHERE d1 > 0 OR d2 > 0
""".replace("{DAY_US}", str(DAY_US)),
)
def q453_competing_risks(spark, sf_dir):
    """AALEN-JOHANSEN CUMULATIVE INCIDENCE under competing risks (the
    correct answer to 'what fraction will purchase by day t when a
    competing first event can preempt it' — naive 1−KM per cause
    OVERSTATES incidence; AJ weights each cause's hazard by the
    overall survival, the estimator q206's single-risk KM cannot
    express): first-of(purchase, click) after signup as competing
    causes, CIF_k(t) = Σ S(t−)·d_k/n over the integer-day histogram.

    Exactness: the q206 discipline — survival via DECIMAL-summed
    log-steps, CIF increments 9dp-snapped into DECIMAL prefix sums.
    All windows live on the duration-histogram domain (allowlist
    class)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns DIV 1000")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_us"))).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_us"))).alias("tp"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts_us"))).alias("tc"),
    )
    horizon = ev.agg(F.max("ts_us").alias("tmax"))
    t0, tp, tc = F.col("t0"), F.col("tp"), F.col("tc")
    p_first = tp.isNotNull() & (tp > t0) & (
        tc.isNull() | (tc <= t0) | (tp <= tc)
    )
    c_first = tc.isNotNull() & (tc > t0)
    subj = (
        per_user.where(t0.isNotNull())
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(p_first, F.expr(f"(tp - t0) DIV {DAY_US}"))
            .when(c_first, F.expr(f"(tc - t0) DIV {DAY_US}"))
            .otherwise(F.expr(f"(tmax - t0) DIV {DAY_US}"))
            .alias("dur"),
            F.when(p_first, 1).when(c_first, 2).otherwise(0).alias("cause"),
        )
    )
    h = subj.groupBy("dur").agg(
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("d2"),
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
    )
    w_desc = W.orderBy(F.col("dur").desc()).rowsBetween(W.unboundedPreceding, 0)
    rk = h.select(
        "dur",
        "d1",
        "d2",
        F.sum("leaving").over(w_desc).cast("bigint").alias("n_risk"),
    )
    w_asc_prev = W.orderBy("dur").rowsBetween(W.unboundedPreceding, -1)
    w_asc = W.orderBy("dur").rowsBetween(W.unboundedPreceding, 0)
    surv = rk.where(F.col("n_risk") > F.col("d1") + F.col("d2")).select(
        "dur",
        "d1",
        "d2",
        "n_risk",
        F.exp(
            F.sum(
                F.round(
                    F.log(
                        (F.col("n_risk") - F.col("d1") - F.col("d2"))
                        / F.col("n_risk").cast("double")
                    ),
                    9,
                ).cast("decimal(18,9)")
            )
            .over(w_asc_prev)
            .cast("double")
        ).alias("s_prev"),
    )
    sp = F.coalesce(F.col("s_prev"), F.lit(1.0))
    cif = surv.select(
        "dur",
        "d1",
        "d2",
        "n_risk",
        F.sum(
            F.round(sp * F.col("d1") / F.col("n_risk"), 9).cast("decimal(18,9)")
        )
        .over(w_asc)
        .alias("ci1"),
        F.sum(
            F.round(sp * F.col("d2") / F.col("n_risk"), 9).cast("decimal(18,9)")
        )
        .over(w_asc)
        .alias("ci2"),
    )
    return cif.where((F.col("d1") > 0) | (F.col("d2") > 0)).select(
        F.col("dur").alias("duration_day"),
        "n_risk",
        F.col("d1").alias("n_purchase"),
        F.col("d2").alias("n_click"),
        F.round(F.col("ci1").cast("double"), 6).alias("cif_purchase"),
        F.round(F.col("ci2").cast("double"), 6).alias("cif_click"),
    )


@query(
    "q455_markov_entropy_rate",
    oracle="""
WITH s AS (
  SELECT user_id, event_type, epoch_ns(ts) AS t, event_id FROM events
),
seq_ AS (
  SELECT user_id, event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)
           AS nxt
  FROM s
),
tc AS (
  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq_ WHERE nxt IS NOT NULL GROUP BY cur, nxt
),
row_ AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS rn_ FROM tc GROUP BY cur),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM tc),
hrow AS (
  SELECT tc.cur, row_.rn_,
         CAST(SUM(CAST(ROUND(-(tc.n / CAST(row_.rn_ AS DOUBLE))
                             * ln(tc.n / CAST(row_.rn_ AS DOUBLE)) / ln(2.0), 12)
                       AS DECIMAL(24,12))) AS DOUBLE) AS h_cond
  FROM tc JOIN row_ ON row_.cur = tc.cur
  GROUP BY tc.cur, row_.rn_
)
SELECT h.cur AS state,
       h.rn_ AS n_transitions,
       ROUND(h.rn_ / CAST(t.t AS DOUBLE), 6) AS empirical_weight,
       ROUND(h.h_cond, 6) AS h_conditional_bits,
       ROUND(
         (SELECT CAST(SUM(CAST(ROUND(h2.rn_ / CAST(t2.t AS DOUBLE)
                                     * h2.h_cond, 12) AS DECIMAL(24,12)))
                 AS DOUBLE)
          FROM hrow h2 CROSS JOIN tot t2), 6) AS entropy_rate_bits
FROM hrow h CROSS JOIN tot t
""",
)
def q455_markov_entropy_rate(spark, sf_dir):
    """MARKOV ENTROPY RATE of the user event-type chain (how
    predictable is the NEXT action given the current one? — the
    information-theoretic summary of q262's transition matrix, and the
    sequence-level complement of q177's static vocabulary entropy):
    per-state conditional entropy H(next|cur) in bits from the
    transition counts, weighted by the empirical state occupancy into
    the chain's entropy rate — every log term 12dp-snapped into
    DECIMAL sums, so the bit counts are engine-exact.

    Scale shape: one per-user LEAD window (partitioned), one
    |types|^2-bounded transition aggregate; the rest runs on the tiny
    state domain."""
    ev = load_table(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts_ns", "event_id")
    seq_ = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(wo).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    tc = seq_.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).transform(managed_persist)
    row_ = tc.groupBy("cur").agg(F.sum("n").cast("bigint").alias("rn_"))
    tot = tc.agg(F.sum("n").cast("bigint").alias("t"))
    p = F.col("n") / F.col("rn_").cast("double")
    hrow = (
        tc.join(F.broadcast(row_), "cur")
        .groupBy("cur", "rn_")
        .agg(
            F.sum(
                F.round(-p * F.log(p) / F.log(F.lit(2.0)), 12).cast(
                    "decimal(24,12)"
                )
            )
            .cast("double")
            .alias("h_cond")
        )
        .transform(managed_persist)
    )
    rate = (
        hrow.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    F.col("rn_") / F.col("t").cast("double") * F.col("h_cond"),
                    12,
                ).cast("decimal(24,12)")
            )
            .cast("double")
            .alias("rate")
        )
    )
    return (
        hrow.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(rate))
        .select(
            F.col("cur").alias("state"),
            F.col("rn_").alias("n_transitions"),
            F.round(F.col("rn_") / F.col("t").cast("double"), 6).alias(
                "empirical_weight"
            ),
            F.round(F.col("h_cond"), 6).alias("h_conditional_bits"),
            F.round(F.col("rate"), 6).alias("entropy_rate_bits"),
        )
    )


@query(
    "q456_day_gap_audit",
    oracle="""
WITH d AS (
  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day FROM events
  GROUP BY 1, 2
),
lim AS (
  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM d GROUP BY event_type
),
gaps AS (
  SELECT d.event_type, d.day,
         LEAD(d.day) OVER (PARTITION BY d.event_type ORDER BY d.day) AS nxt
  FROM d
),
g AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN nxt - day > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_gaps,
         CAST(SUM(CASE WHEN nxt - day > 1 THEN nxt - day - 1 ELSE 0 END)
              AS BIGINT) AS missing_days,
         CAST(MAX(CASE WHEN nxt IS NOT NULL THEN nxt - day - 1 ELSE 0 END)
              AS BIGINT) AS longest_gap
  FROM gaps GROUP BY event_type
)
SELECT l.event_type, l.n_days,
       CAST(l.d1 - l.d0 + 1 AS BIGINT) AS span_days,
       g.n_gaps, g.missing_days, g.longest_gap,
       ROUND(l.n_days / CAST(l.d1 - l.d0 + 1 AS DOUBLE), 6) AS coverage
FROM lim l JOIN g ON g.event_type = l.event_type
""",
)
def q456_day_gap_audit(spark, sf_dir):
    """CALENDAR-CONTINUITY AUDIT per series (the freshness/completeness
    gate a daily-fed warehouse owes its consumers — a silent 3-day
    ingest hole poisons every windowed metric downstream; the
    data-quality sibling of q401's expectations ledger, specialized to
    the time axis): distinct active days vs the span, gap count,
    total missing days, longest gap, coverage ratio — all integer
    facts off one LEAD window over the per-series day set.

    Scale shape: day dedup is a combinable (series, day) aggregate;
    the gap window runs on the bounded day-domain relation."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(F.lit(1).alias("one")).drop("one")
    lim = d.groupBy("event_type").agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    wo = W.partitionBy("event_type").orderBy("day")
    gaps = d.select(
        "event_type", "day", F.lead("day").over(wo).alias("nxt")
    )
    gap_len = F.col("nxt") - F.col("day") - 1
    g = gaps.groupBy("event_type").agg(
        F.sum(F.when(F.col("nxt") - F.col("day") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_gaps"),
        F.sum(
            F.when(F.col("nxt") - F.col("day") > 1, gap_len).otherwise(0)
        )
        .cast("bigint")
        .alias("missing_days"),
        F.max(
            F.when(F.col("nxt").isNotNull(), gap_len).otherwise(0)
        )
        .cast("bigint")
        .alias("longest_gap"),
    )
    span = (F.col("d1") - F.col("d0") + 1).cast("bigint")
    return lim.join(g, "event_type").select(
        "event_type",
        "n_days",
        span.alias("span_days"),
        "n_gaps",
        "missing_days",
        "longest_gap",
        F.round(F.col("n_days") / span.cast("double"), 6).alias("coverage"),
    )


@query(
    "q457_srm_gate",
    oracle="""
WITH a AS (
  SELECT epoch_ns(ts) // 86400000000000 AS day,
         CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_control,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treat
  FROM events GROUP BY 1
)
SELECT CAST(day AS BIGINT) AS day, n_control, n_treat,
       ROUND(POW(n_control - (n_control + n_treat) / 2.0, 2)
             / ((n_control + n_treat) / 2.0)
             + POW(n_treat - (n_control + n_treat) / 2.0, 2)
             / ((n_control + n_treat) / 2.0), 6) AS srm_chi2,
       CASE WHEN POW(n_control - (n_control + n_treat) / 2.0, 2)
                 / ((n_control + n_treat) / 2.0)
                 + POW(n_treat - (n_control + n_treat) / 2.0, 2)
                 / ((n_control + n_treat) / 2.0) > 3.841459 THEN 1 ELSE 0 END
         AS srm_flag
FROM a
""",
)
def q457_srm_gate(spark, sf_dir):
    """SAMPLE-RATIO-MISMATCH GATE per day (the first sanity check of
    every A/B readout — Fabijan et al. report SRM in ~6% of
    experiments; a skewed assignment silently invalidates the whole
    analysis before any metric is read): hash-bucket assignment
    (user_id parity) against the designed 50/50 split, per-day 1-df
    chi-square and the alpha=0.05 flag (3.841 critical value inlined
    so the gate is a pure expression).

    Scale shape: ONE conditional aggregate over (day); the gate is a
    projection. The per-day grain is what catches a mid-experiment
    assignment bug that a whole-window test would average away."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.groupBy(F.expr("ts_ns DIV 86400000000000").alias("day")).agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_control"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_treat"),
    )
    e = (F.col("n_control") + F.col("n_treat")) / 2.0
    chi2 = F.pow(F.col("n_control") - e, 2) / e + F.pow(F.col("n_treat") - e, 2) / e
    return a.select(
        F.col("day").cast("bigint").alias("day"),
        "n_control",
        "n_treat",
        F.round(chi2, 6).alias("srm_chi2"),
        F.when(chi2 > 3.841459, 1).otherwise(0).alias("srm_flag"),
    )


@query(
    "q458_mad_outlier_gate",
    oracle="""
WITH s AS (
  SELECT event_type, event_id, value AS v FROM events
),
med AS (
  SELECT event_type, v AS m FROM (
    SELECT event_type, v,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, event_id)
             AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM s
  ) WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)
),
dev AS (
  SELECT s.event_type, s.event_id, s.v, ABS(s.v - med.m) AS ad, med.m
  FROM s JOIN med ON med.event_type = s.event_type
),
mad AS (
  SELECT event_type, ad AS mad FROM (
    SELECT event_type, ad,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ad, event_id)
             AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM dev
  ) WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MAX(m.mad), 6) AS mad,
       CAST(SUM(CASE WHEN m.mad > 0
                     AND ABS(0.6745 * (d.v - d.m) / m.mad) > 3.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(SUM(CASE WHEN m.mad > 0
                      AND ABS(0.6745 * (d.v - d.m) / m.mad) > 3.5
                      THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS outlier_rate
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY d.event_type
""",
)
def q458_mad_outlier_gate(spark, sf_dir):
    """MAD ROBUST-Z OUTLIER GATE per series (Iglewicz-Hoaglin modified
    z — the UNIVARIATE robust gate the multivariate detectors (q294
    LOF, q330 ECOD) are overkill for, and the one whose cutoffs a mean
    /stddev z-score cannot deliver under contamination, since outliers
    inflate their own yardstick): rank-exact lower median, rank-exact
    MAD under deterministic (value, event_id) order, modified z =
    0.6745(x−med)/MAD, |z| > 3.5 flags, per-series counts.

    Scale shape: two per-series median windows (partitioned) + one
    combinable aggregate; both medians pick data values, so the gate
    is float-free until the single z expression."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").alias("v")
    )
    wg = W.partitionBy("event_type")

    def lower_median(df, col, out):
        return (
            df.select(
                "event_type",
                F.col(col),
                F.row_number().over(wg.orderBy(col, "event_id")).alias("rn"),
                F.count(F.lit(1)).over(wg).alias("n"),
            )
            .where(F.col("rn") == F.ceil(F.col("n") / 2.0).cast("bigint"))
            .select("event_type", F.col(col).alias(out))
        )

    med = lower_median(ev, "v", "m")
    dev = ev.join(med, "event_type").select(
        "event_type",
        "event_id",
        "v",
        "m",
        F.abs(F.col("v") - F.col("m")).alias("ad"),
    )
    mad = lower_median(dev, "ad", "mad")
    z = F.abs(0.6745 * (F.col("v") - F.col("m")) / F.col("mad"))
    flagged = F.when((F.col("mad") > 0) & (z > 3.5), 1).otherwise(0)
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(flagged).cast("bigint").alias("n_outliers"),
            F.round(
                F.sum(flagged) / F.count(F.lit(1)).cast("double"), 6
            ).alias("outlier_rate"),
        )
    )


_ECE_BINS = 10


@query(
    "q479_ece_calibration",
    oracle=f"""
WITH s AS (
  SELECT event_id, value / 500.0 AS p,
         CASE WHEN (event_id * {_HL_MULT}) % 500 < value THEN 1 ELSE 0 END AS y
  FROM events
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
b AS (
  SELECT LEAST(CAST(FLOOR(p * {_ECE_BINS}) AS BIGINT), {_ECE_BINS - 1}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(y) AS BIGINT) AS o_b,
         CAST(SUM(CAST(ROUND(p, 10) AS DECIMAL(20,10))) AS DOUBLE) AS c_b
  FROM s GROUP BY 1
)
SELECT bin, n_b,
       ROUND(o_b / CAST(n_b AS DOUBLE), 6) AS acc,
       ROUND(c_b / n_b, 6) AS conf,
       ROUND(ABS(o_b / CAST(n_b AS DOUBLE) - c_b / n_b), 6) AS gap,
       ROUND(n_b * ABS(o_b / CAST(n_b AS DOUBLE) - c_b / n_b) / tot.n, 6)
         AS ece_contrib
FROM b CROSS JOIN tot
""",
)
def q479_ece_calibration(spark, sf_dir):
    """EXPECTED CALIBRATION ERROR over fixed-width confidence bins (the
    LLM-eval calibration staple — Guo et al. 2017's ECE is what model
    cards report; q434's Hosmer-Lemeshow is the TEST on population
    deciles, ECE is the METRIC on fixed [0,1) bins, and the two
    disagree exactly when the confidence distribution is skewed into
    few bins): per bin the accuracy, mean confidence (DECIMAL-exact),
    the |acc - conf| gap, and the n_b/N-weighted ECE contribution
    (summing the last column IS the ECE). Same deterministic
    pseudo-Bernoulli outcome as q434, so a calibrated readout is the
    expected result and any gap is binning effect, not noise.

    Scale shape: ONE conditional aggregate over a <= {_ECE_BINS}-bin
    domain — calibration of 100 TB of scores at scan speed (fixed-width
    bins need no global rank, unlike the HL deciles)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("value") / 500.0).alias("p"),
        F.when((F.col("event_id") * _HL_MULT) % 500 < F.col("value"), 1)
        .otherwise(0)
        .alias("y"),
    )
    tot = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    b = ev.groupBy(
        F.least(
            F.floor(F.col("p") * _ECE_BINS).cast("bigint"),
            F.lit(_ECE_BINS - 1).cast("bigint"),
        ).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("y").cast("bigint").alias("o_b"),
        F.sum(F.round(F.col("p"), 10).cast("decimal(20,10)"))
        .cast("double")
        .alias("c_b"),
    )
    o, c, n = F.col("o_b"), F.col("c_b"), F.col("n_b")
    acc = o / n.cast("double")
    conf = c / n
    return b.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_b",
        F.round(acc, 6).alias("acc"),
        F.round(conf, 6).alias("conf"),
        F.round(F.abs(acc - conf), 6).alias("gap"),
        F.round(n * F.abs(acc - conf) / F.col("n"), 6).alias("ece_contrib"),
    )


@query(
    "q527_isotonic_calibration",
    oracle="""
WITH b AS (
  SELECT event_type AS grp, CAST(user_id % 16 AS INT) AS x,
         CAST(SUM(CASE WHEN value >= 35 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(COUNT(*) AS BIGINT) AS n_tot
  FROM events GROUP BY 1, 2
),
pre AS (
  SELECT grp, x, n_pos, n_tot,
         SUM(n_pos) OVER (PARTITION BY grp ORDER BY x) AS cp,
         SUM(n_tot) OVER (PARTITION BY grp ORDER BY x) AS ct,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x) AS r
  FROM b
),
trip AS (
  SELECT i.grp, i.r AS ri, k.r AS rk,
         CAST(j.cp - i.cp + i.n_pos AS DOUBLE)
           / (j.ct - i.ct + i.n_tot) AS mean_ij
  FROM pre i
  JOIN pre k ON k.grp = i.grp AND k.r >= i.r
  JOIN pre j ON j.grp = i.grp AND j.r >= k.r
),
v AS (SELECT grp, ri, rk, MIN(mean_ij) AS vmin FROM trip GROUP BY grp, ri, rk),
iso AS (SELECT grp, rk, MAX(vmin) AS g FROM v GROUP BY grp, rk)
SELECT p.grp AS event_type, p.x AS bucket, p.n_pos, p.n_tot,
       ROUND(CAST(p.n_pos AS DOUBLE) / p.n_tot, 6) AS raw_rate,
       ROUND(iso.g, 6) AS iso_rate
FROM pre p JOIN iso ON iso.grp = p.grp AND iso.rk = p.r
""",
)
def q527_isotonic_calibration(spark, sf_dir):
    """ISOTONIC (PAV) CALIBRATION per series — the non-parametric
    calibration FITTER beside the audits (q479 ECE, q434
    Hosmer-Lemeshow, q258 Brier reliability): per event_type the
    16-bucket score/outcome curve is refit to the closest
    non-decreasing step function by pool-adjacent-violators with
    EXACT-INTEGER pooling (blocks carry (sum_pos, sum_tot); the
    violation test is a bigint cross-multiply; one division per
    block). The oracle verifies the fit through the closed-form
    minimax characterization g(k) = max_{i<=k} min_{j>=k} mean(i..j)
    over prefix sums — an algorithm-independent certificate that the
    kernel found THE isotonic fit, not merely a plausible one (IEEE
    division is correctly rounded, so the mathematically-equal
    fractions land on identical doubles).

    Scale shape: the raw stream folds to a (series x bucket) grid in
    one map-side-combinable aggregate; the kernel is an
    ``applyInPandas`` stack scan over the BOUNDED bucket domain per
    series (q302's sequential-kernel discipline); the oracle's O(n^3)
    triple join exists only on the SQL side — the kernel is linear."""
    from variantcalling_spark.operators.kernels import pav_isotonic

    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        F.col("event_type").alias("grp"),
        (F.col("user_id") % 16).cast("int").alias("x"),
    ).agg(
        F.sum(F.when(F.col("value") >= 35, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.count(F.lit(1)).cast("bigint").alias("n_tot"),
    )
    fit = pav_isotonic(b, key_col="grp", x_col="x", pos_col="n_pos", tot_col="n_tot")
    return fit.select(
        F.col("grp").alias("event_type"),
        F.col("x").alias("bucket"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_tot").cast("bigint").alias("n_tot"),
        F.round(F.col("n_pos").cast("double") / F.col("n_tot"), 6).alias("raw_rate"),
        F.round("iso_rate", 6).alias("iso_rate"),
    )



_HW_A = 0.3
_HW_B = 0.1
_HW_G = 0.2


@query(
    "q524_holt_winters",
    oracle=f"""
WITH RECURSIVE hourly AS MATERIALIZED (
  SELECT event_type,
         epoch_ns(ts) // 3600000000000 AS hr,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM events GROUP BY event_type, hr
),
rel AS MATERIALIZED (
  SELECT event_type, m,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS BIGINT) AS rn
  FROM hourly
),
stats AS MATERIALIZED (
  SELECT event_type,
         CAST(SUM(CASE WHEN rn <= 24 THEN CAST(ROUND(m * 1000000) AS BIGINT) END) AS BIGINT) AS sum1,
         CAST(SUM(CASE WHEN rn > 24 AND rn <= 48 THEN CAST(ROUND(m * 1000000) AS BIGINT) END) AS BIGINT) AS sum2,
         CAST(MAX(rn) AS BIGINT) AS n
  FROM rel GROUP BY event_type
  HAVING MAX(rn) >= 48
),
seas0 AS MATERIALIZED (
  SELECT r.event_type,
         list(r.m - CAST(s.sum1 AS DOUBLE) / 24000000.0 ORDER BY r.rn) AS seas
  FROM rel r JOIN stats s USING (event_type)
  WHERE r.rn <= 24
  GROUP BY r.event_type
),
walk AS (
  SELECT s.event_type, CAST(24 AS BIGINT) AS t,
         CAST(s.sum1 AS DOUBLE) / 24000000.0 AS l,
         CAST(s.sum2 - s.sum1 AS DOUBLE) / 576000000.0 AS b,
         z.seas AS seas
  FROM stats s JOIN seas0 z USING (event_type)
  UNION ALL
  SELECT w.event_type, w.t + 1,
         {_HW_A!r} * (r.m - w.seas[1]) + {1.0 - _HW_A!r} * (w.l + w.b),
         {_HW_B!r} * (({_HW_A!r} * (r.m - w.seas[1]) + {1.0 - _HW_A!r} * (w.l + w.b)) - w.l)
           + {1.0 - _HW_B!r} * w.b,
         list_append(w.seas[2:24],
           {_HW_G!r} * (r.m - ({_HW_A!r} * (r.m - w.seas[1]) + {1.0 - _HW_A!r} * (w.l + w.b)))
             + {1.0 - _HW_G!r} * w.seas[1])
  FROM walk w JOIN rel r ON r.event_type = w.event_type AND r.rn = w.t + 1
)
SELECT w.event_type, CAST(w.t AS BIGINT) AS n_obs,
       ROUND(w.l, 6) AS level, ROUND(w.b, 6) AS trend,
       ROUND(w.seas[24], 6) AS season_last,
       ROUND(w.l + 24 * w.b + w.seas[24], 6) AS forecast
FROM walk w JOIN stats s ON s.event_type = w.event_type AND w.t = s.n
""",
)
def q524_holt_winters(spark, sf_dir):
    """ADDITIVE HOLT-WINTERS triple-exponential smoothing per metric
    series over HOURLY means with a 24-hour season — the seasonal rung
    above q302's Holt (level+trend) and q267's EWMA (level only), and
    the forecasting face of q287's hour-of-day profile: level, trend,
    and a 24-slot additive seasonal state, with a next-day
    matching-phase forecast. alpha=0.3, beta=0.1, gamma=0.2;
    Hyndman init (l = season-1 mean, b = (mean2-mean1)/24,
    s_i = y_i - mean1); series shorter than two seasons are dropped
    on both sides.

    Exactness: the init means are EXACT integer micro-unit sums with
    ONE IEEE division each (no order-dependent float accumulation);
    the ~700-step recursion is plain float64 with identical expression
    shapes on both engines (q302's strongest-pin discipline — the
    oracle replays the walk as a recursive CTE carrying the 24-slot
    seasonal LIST, no intermediate rounding anywhere).

    Scale shape: the raw stream folds to calendar-bounded hourly means
    in one map-side-combinable aggregate; the recursion is inherently
    sequential PER SERIES, so it runs as an ``applyInPandas`` kernel
    over the bounded hourly grid — Spark hash-partitions the series."""
    from variantcalling_spark.operators.kernels import holt_winters_smooth

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 3600000000000").alias("hr")
    ).agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias("m")
    )
    out = holt_winters_smooth(
        hourly.select(
            F.col("event_type").alias("series"), F.col("hr").alias("t"), "m"
        ),
        period=24,
        alpha=_HW_A,
        beta=_HW_B,
        gamma=_HW_G,
        horizon=24,
    )
    return out.select(
        F.col("series").alias("event_type"),
        "n_obs",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("season_last", 6).alias("season_last"),
        F.round("forecast", 6).alias("forecast"),
    )
