"""Distribution-drift checks: PSI and KS against a baseline snapshot.

Generalizes the reference's week-over-week snapshot diffing
(weekly_report.py:217-283 activity deltas, :632-675 schema drift)
from set/count arithmetic to distributional tests, as the north star
requires (KS / PSI on dur_ms, sr_hz, codec frequencies).

Everything is DataFrame arithmetic over the histogram tables produced
by operators.stats.histogram — a full-outer join on (column, bucket)
plus window cumsums. No driver-side math, so baselines of any width
scale. `sketch_drift` answers the same questions from two persisted
KLL sketch tables (stats.kll_sketches) instead, through
stats.kll_drift's evaluator.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .stats import kll_drift

_EPS = 1e-6


def drift_metrics(baseline_hist: DataFrame, current_hist: DataFrame) -> DataFrame:
    """Per-column drift metrics from two histogram tables
    (column_name, bucket, cnt, freq).

    PSI  = sum((p_cur - p_base) * ln(p_cur / p_base)), eps-smoothed.
    KS   = max |CDF_cur - CDF_base| over the shared bucket grid
           (buckets are ordinal for numeric specs; for categorical
           columns KS is reported over lexicographic bucket order and
           PSI is the meaningful statistic).

    Returns (column_name, psi, ks, n_buckets).
    """
    b = baseline_hist.select(
        "column_name", "bucket", F.col("freq").alias("p_base")
    )
    c = current_hist.select(
        "column_name", "bucket", F.col("freq").alias("p_cur")
    )
    joined = b.join(c, ["column_name", "bucket"], "full_outer").fillna(
        0.0, subset=["p_base", "p_cur"]
    )
    pb = F.col("p_base") + _EPS
    pc = F.col("p_cur") + _EPS
    term = (pc - pb) * F.log(pc / pb)

    # numeric buckets sort numerically (-1 underflow .. n overflow);
    # categorical buckets sort lexicographically (a column's buckets
    # are homogeneous, so the numeric key is all-null for categorical
    # and the string tiebreak takes over)
    w = Window.partitionBy("column_name").orderBy(
        F.col("bucket").try_cast("double").asc_nulls_last(),
        F.col("bucket").asc(),
    )
    cdf_gap = F.abs(
        F.sum("p_cur").over(w) - F.sum("p_base").over(w)
    )
    return (
        joined.withColumn("_psi_term", term)
        .withColumn("_cdf_gap", cdf_gap)
        .groupBy("column_name")
        .agg(
            F.sum("_psi_term").alias("psi"),
            F.max("_cdf_gap").alias("ks"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
    )


def sketch_drift(
    baseline_sketches: DataFrame,
    current_sketches: DataFrame,
    n_psi_buckets: int = 20,
) -> DataFrame:
    """Per-column KS + PSI computed from two KLL sketch TABLES alone
    (stats.kll_sketches output, e.g. a snapshot's `kll` artifact) —
    the raw-data-free drift path: each snapshot persists kilobyte
    sketch rows once, and every later cross-snapshot comparison is a
    join of those tiny tables. At 10^12 rows the alternative
    (re-scanning the baseline snapshot per comparison) is the dominant
    cost; this makes drift O(columns), not O(rows).

    Returns (column_name, ks, psi, n_base, n_cur); ks and psi are NULL
    when either side has no values. The evaluator is stats.kll_drift's
    (PSI over n_psi_buckets equal-width buckets spanning both sides,
    the same eps-smoothed formula as drift_metrics); estimate error is
    bounded by the sketches' rank error at stats.KLL_K — q72 gates both
    statistics against exact SQL recomputation with tolerance
    booleans.
    """
    return kll_drift(
        baseline_sketches, current_sketches, psi_buckets=n_psi_buckets
    )


def freq_drift_tests(
    baseline_hist: DataFrame, current_hist: DataFrame, z_95: float = 1.6448536269514722
) -> DataFrame:
    """Frequency-table drift tests from two histogram tables — the
    formal-statistics companions to PSI/KS for categorical columns
    (the north star's codec-frequency drift):

    - Pearson two-sample chi-squared under homogeneity: for bucket i
      with counts (cb_i, cc_i) and totals (nb, nc, N=nb+nc),
      E_side_i = n_side * (cb_i + cc_i) / N and
      chi2 = sum over buckets and sides of (O - E)^2 / E, dof = k - 1.
    - `chi2_reject_95`: chi2 >= the 95% critical value via the
      Wilson-Hilferty cube-root approximation
      crit = dof * (1 - 2/(9*dof) + z * sqrt(2/(9*dof)))^3 — pure
      arithmetic, so the verdict boolean replays exactly in SQL
      (no incomplete-gamma needed on either engine).
    - Jensen-Shannon divergence (natural log, eps-smoothed):
      js = 0.5*sum(pb*ln(pb/m)) + 0.5*sum(pc*ln(pc/m)), m=(pb+pc)/2.
      Bounded by ln 2; symmetric, unlike PSI's eps sensitivity.

    One full-outer join + one groupBy per call — same shuffle shape
    as drift_metrics, O(columns x buckets) rows total.
    Returns (column_name, chi2, dof, chi2_crit_95, chi2_reject_95,
    js_div, n_base, n_cur).
    """
    b = baseline_hist.select(
        "column_name", "bucket", F.col("cnt").alias("cb")
    )
    c = current_hist.select(
        "column_name", "bucket", F.col("cnt").alias("cc")
    )
    j = (
        b.join(c, ["column_name", "bucket"], "full_outer")
        .fillna(0, subset=["cb", "cc"])
        .withColumn("nb", F.sum("cb").over(Window.partitionBy("column_name")))
        .withColumn("nc", F.sum("cc").over(Window.partitionBy("column_name")))
    )
    tot = F.col("cb") + F.col("cc")
    n = F.col("nb") + F.col("nc")
    eb = F.col("nb") * tot / n
    ec = F.col("nc") * tot / n
    chi_term = F.when(
        tot > 0,
        (F.col("cb") - eb) ** 2 / eb + (F.col("cc") - ec) ** 2 / ec,
    ).otherwise(F.lit(0.0))
    pb = F.col("cb") / F.col("nb") + _EPS
    pc = F.col("cc") / F.col("nc") + _EPS
    m = (pb + pc) / 2
    js_term = 0.5 * pb * F.log(pb / m) + 0.5 * pc * F.log(pc / m)
    agg = (
        j.withColumn("_chi", chi_term)
        .withColumn("_js", js_term)
        .groupBy("column_name")
        .agg(
            F.sum("_chi").alias("chi2"),
            (F.count(F.lit(1)) - F.lit(1)).cast("long").alias("dof"),
            F.sum("_js").alias("js_div"),
            F.max("nb").alias("n_base"),
            F.max("nc").alias("n_cur"),
        )
    )
    h = 2.0 / (9.0 * F.col("dof"))
    crit = F.when(
        F.col("dof") > 0,
        F.col("dof") * (1.0 - h + F.lit(z_95) * F.sqrt(h)) ** 3,
    )
    return agg.select(
        "column_name",
        "chi2",
        "dof",
        crit.alias("chi2_crit_95"),
        (F.col("chi2") >= crit).alias("chi2_reject_95"),
        "js_div",
        "n_base",
        "n_cur",
    )


def drift_verdicts(
    baseline_hist: DataFrame,
    current_hist: DataFrame,
    psi_warn: float = 0.1,
    psi_fail: float = 0.25,
    ks_fail: float = 0.2,
) -> DataFrame:
    """PSI thresholds follow the conventional 0.1/0.25 bands; both
    knobs are config. Status: 'pass' | 'warn' | 'fail'."""
    m = drift_metrics(baseline_hist, current_hist)
    return m.withColumn(
        "drift_status",
        F.when(
            (F.col("psi") >= psi_fail) | (F.col("ks") >= ks_fail), F.lit("fail")
        )
        .when(F.col("psi") >= psi_warn, F.lit("warn"))
        .otherwise(F.lit("pass")),
    )


def benford_test(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """First-digit (Benford's law) conformance per column: ->
    (column_name, n, chi2, mad, verdict).

    The classic 'were these amounts fabricated / truncated / unit-
    mangled' data-quality screen: natural multi-magnitude quantities
    follow P(d) = log10(1 + 1/d); a corrupted loader (decimal shift,
    capped values, default-filled rows) bends the digit histogram.
    chi2 is Pearson's statistic against the Benford expectation, mad
    the mean absolute deviation of digit frequencies — verdict uses
    Nigrini's MAD bands (close <= 0.006 < acceptable <= 0.012 <
    marginal <= 0.015 < nonconforming).

    Determinism contract: values are truncated to integers (try_cast
    to long) and the first digit is read from the integer's decimal
    string — no float log10 whose last-ulp differences across engines
    could flip a digit at decade boundaries. Values with |v| < 1 are
    EXCLUDED, as are NaN / ±Inf / out-of-int64 values (try_cast
    yields NULL for them — a plain cast would THROW under Spark 4's
    default ANSI mode and crash the whole screen on one dirty value,
    the worst failure mode for a data-quality check). A column with
    ZERO included values still emits its report row (n=0, null
    chi2/mad, verdict 'no_data') — silence would read as clean for
    exactly the all-default/all-null defect class this screen hunts.
    All columns ride ONE unpivot + one hash aggregate on
    (column, digit) — 9 rows per column leave the shuffle.
    """
    pairs = []
    for c in cols:
        as_long = F.col(c).try_cast("long")
        # first digit via regexp on the decimal string (not abs():
        # ANSI abs(int64 min) overflows-and-throws)
        digit = F.regexp_extract(
            as_long.cast("string"), r"^-?([1-9])", 1
        ).try_cast("int")
        pairs.append(
            F.when((as_long >= 1) | (as_long <= -1), digit).alias(c)
        )
    import math

    expected = F.array(
        *[F.lit(math.log10(1.0 + 1.0 / d)) for d in range(1, 10)]
    )
    unpivoted = (
        df.select(pairs)
        .unpivot([], list(cols), "column_name", "digit")
        .filter(F.col("digit").isNotNull())
    )
    per_digit = unpivoted.groupBy("column_name", "digit").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    # densify: a digit that never occurs still contributes (0 - n*p)^2.
    # The scaffold comes from the REQUESTED column list, not the
    # observed digits, so a fully-excluded column (all null / all
    # |v|<1 / all non-castable) still surfaces as an n=0 'no_data'
    # row instead of silently vanishing from the report.
    spark = df.sparkSession
    col_names = spark.createDataFrame(
        [(c,) for c in cols], "column_name string"
    )
    all_digits = col_names.crossJoin(
        F.broadcast(
            spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
        )
    )
    dense = all_digits.join(per_digit, ["column_name", "digit"], "left").fillna(
        {"obs": 0}
    )
    w_n = F.sum("obs").over(Window.partitionBy("column_name"))
    scored = dense.withColumn("n", w_n).withColumn(
        "p", F.element_at(expected, F.col("digit"))
    )
    # n=0 guards: an empty column's chi2/mad stay NULL (never NaN or
    # an ANSI divide-by-zero) and its verdict reads 'no_data'
    out = scored.groupBy("column_name").agg(
        F.max("n").cast("long").alias("n"),
        F.round(
            F.sum(
                F.when(
                    F.col("n") > 0,
                    F.pow(F.col("obs") - F.col("n") * F.col("p"), 2)
                    / (F.col("n") * F.col("p")),
                )
            ),
            6,
        ).alias("chi2"),
        F.round(
            F.avg(
                F.when(
                    F.col("n") > 0,
                    F.abs(F.col("obs") / F.col("n") - F.col("p")),
                )
            ),
            6,
        ).alias("mad"),
    )
    return out.withColumn(
        "verdict",
        F.when(F.col("mad").isNull(), "no_data")
        .when(F.col("mad") <= 0.006, "close")
        .when(F.col("mad") <= 0.012, "acceptable")
        .when(F.col("mad") <= 0.015, "marginal")
        .otherwise("nonconforming"),
    )


def partition_drift(
    part_hist: DataFrame,
    baseline_hist: DataFrame,
    psi_fail: float = 0.25,
    ks_fail: float = 0.2,
) -> DataFrame:
    """Per-PARTITION drift verdicts: each partition's distribution vs
    a baseline histogram -> (partition, column_name, psi, ks,
    n_buckets, drift_status).

    The north star's per-partition pass/fail applied to DISTRIBUTIONS:
    rule verdicts say which partitions broke constraints; this says
    which partitions stopped looking like the corpus (a bad ingest
    day, a mis-unit upload). Inputs are histogram tables —
    stats.grouped_histogram for the partition side, stats.histogram
    (typically over the whole table or a reference snapshot) for the
    baseline — so the comparison never re-scans raw data and the
    baseline is replicated to partitions via one broadcast join.
    Same eps-smoothed PSI and shared-grid KS as drift_metrics.
    """
    scaffold = (
        part_hist.select("partition").distinct().crossJoin(
            F.broadcast(
                baseline_hist.select(
                    "column_name", "bucket", F.col("freq").alias("p_base")
                )
            )
        )
    )
    cur = part_hist.select(
        "partition", "column_name", "bucket", F.col("freq").alias("p_cur")
    )
    joined = scaffold.join(
        cur, ["partition", "column_name", "bucket"], "full_outer"
    ).fillna(0.0, subset=["p_base", "p_cur"])
    pb = F.col("p_base") + _EPS
    pc = F.col("p_cur") + _EPS
    term = (pc - pb) * F.log(pc / pb)
    w = Window.partitionBy("partition", "column_name").orderBy(
        F.col("bucket").try_cast("double").asc_nulls_last(),
        F.col("bucket").asc(),
    )
    cdf_gap = F.abs(F.sum("p_cur").over(w) - F.sum("p_base").over(w))
    out = (
        joined.withColumn("_psi_term", term)
        .withColumn("_cdf_gap", cdf_gap)
        .groupBy("partition", "column_name")
        .agg(
            F.sum("_psi_term").alias("psi"),
            F.max("_cdf_gap").alias("ks"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
        )
    )
    return out.withColumn(
        "drift_status",
        F.when(
            (F.col("psi") > psi_fail) | (F.col("ks") > ks_fail), F.lit("fail")
        ).otherwise(F.lit("pass")),
    )
