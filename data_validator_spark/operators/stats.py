"""Column-statistics profiler (the north star's stats surface).

Generalizes the reference's validation-stats rollup
(data_validation_pipeline.py:84-118) and vestigial IQR logic
(validation_controller.py:12-29) into a single-pass column profile:
null rate, min/max, HLL cardinality (`approx_count_distinct`),
quantiles (`percentile_approx`, or the KLL sketch — the engine's one
mergeable quantile-sketch family, also persisted per column by
`kll_sketches` and compared by `kll_drift`), plus fixed-grid
histograms for drift comparison. The sketch tables (`hll_sketches`,
`theta_sketches`, `kll_sketches`) share one SQL-text builder.

Scale notes:
  - the scalar profile is ONE Aggregate over the table (no per-column
    jobs): Catalyst fuses all expressions into a single partial+final
    agg, so cost is a single scan at any table size.
  - histograms for all columns ride ONE shuffle: rows are exploded to
    (column, bucket) pairs first, then a single groupBy aggregates
    every column's histogram together.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validator_spark.functions.sqltext import ident, lit

DEFAULT_QUANTILES = (0.05, 0.25, 0.5, 0.75, 0.95)


@dataclass(frozen=True)
class ColumnSpec:
    name: str
    kind: str  # "numeric" | "categorical"
    # histogram grid for numeric columns (fixed so baseline/current align)
    bucket_lo: float = 0.0
    bucket_hi: float = 1.0
    n_buckets: int = 20


def profile(
    df: DataFrame,
    specs: Sequence[ColumnSpec],
    quantiles: Sequence[float] = DEFAULT_QUANTILES,
    hll_rsd: float = 0.02,
    quantile_method: str = "approx",
) -> DataFrame:
    """Long-format per-column summary:
    (column_name, null_rate, min_val, max_val, approx_distinct, quantiles).

    min/max are stringified so one schema fits all column types
    (mirrors the reference's stringly typed stats payloads).

    hll_rsd: target relative standard deviation of the cardinality
    estimate; mapped to the DataSketches HLL lgK via
    rsd ~ 1.04/sqrt(2^lgK) (0.02 -> lgK 12, ~4 KB fixed per column).
    The estimator is hll_sketch_agg over the stringified value, NOT
    approx_count_distinct(rsd=...): HLL++ at low rsd stores ~700
    unsafe-row words PER COLUMN in the aggregation buffer, which
    stalls planning superlinearly on wide schemas (measured 39 s for
    100 columns of 50 rows vs 2.4 s with the DataSketches binary
    buffer — tests/test_wide_schema.py pins the 1,000-column bound).

    quantile_method: "approx" fuses percentile_approx into the one
    scalar Aggregate. "kll" reads the quantiles of numeric columns off
    a KLL sketch (kll_sketch_agg_double at KLL_K, the sketch family
    kll_sketches persists) inside the same Aggregate: still one scan,
    no join, no Python. An all-NULL (or all-NaN) numeric column gets
    NULL quantiles."""
    if quantile_method not in ("approx", "kll"):
        raise ValueError(f"unknown quantile_method: {quantile_method!r}")
    lgk = min(21, max(4, math.ceil(2 * math.log2(1.04 / hll_rsd))))
    qs = _double_array(quantiles)
    structs = []
    for s in specs:
        c = ident(s.name)
        q = "CAST(NULL AS ARRAY<DOUBLE>)"
        if s.kind == "numeric" and quantile_method == "approx":
            q = f"percentile_approx(CAST({c} AS DOUBLE), {qs}, 10000)"
        elif s.kind == "numeric":
            q = _kll_read(_kll_agg(c), "kll_sketch_get_quantile_double", qs)
        structs.append(
            f"named_struct('column_name', {lit(s.name)}, "
            f"'null_rate', sum(CAST({c} IS NULL AS BIGINT)) / greatest(count(1), 1), "
            f"'min_val', CAST(min({c}) AS STRING), "
            f"'max_val', CAST(max({c}) AS STRING), "
            "'approx_distinct', "
            f"hll_sketch_estimate(hll_sketch_agg(CAST({c} AS STRING), {lgk})), "
            f"'quantiles', {q}, 'n_rows', count(1))"
        )
    # ONE expression of SQL text: the analyzer splits it into the
    # scalar Aggregate and a generator that unpivots its row to long
    # rows, all in the plan (no collect). Built from Column objects it
    # cost a dozen Py4J round trips per column.
    return df.selectExpr(f"inline(array({', '.join(structs)}))")


DEFAULT_HLL_LGK = 12

# The engine's one quantile-sketch family is DataSketches KLL
# (kll_sketch_agg_double): profile quantiles, KS/PSI drift, snapshot
# artifacts and the streaming monitor all read the same sketch. KLL's
# rank error has a worst-case bound that shrinks ~1/k, and the sketch
# grows ~linearly in k. KLL_K is the smallest k (of 800, 1200, 1600,
# 2000, 3000) that held every test and oracle bound with a 2x margin
# over 20 randomized builds, twice; k=800 missed q72's PSI bound
# (worst error 0.027 against 0.05). The measurement is in ROADMAP.md.
KLL_K = 1200


def _sketch_table(
    df: DataFrame, cols: Sequence[str], fields: Sequence[tuple[str, str]]
) -> DataFrame:
    """(column_name, *fields): one row per column from ONE Aggregate,
    built as one selectExpr of SQL text (profile's pattern). Each
    field is (output name, SQL template over `{c}`, the quoted
    column)."""
    structs = ", ".join(
        f"named_struct('column_name', {lit(c)}, "
        + ", ".join(f"{lit(name)}, {tpl.format(c=ident(c))}" for name, tpl in fields)
        + ")"
        for c in cols
    )
    return df.selectExpr(f"inline(array({structs}))")


def _kll_agg(c: str, k: int = KLL_K) -> str:
    return f"kll_sketch_agg_double(CAST({c} AS DOUBLE), {int(k)})"


def _kll_read(sketch: str, fn: str, arg: str) -> str:
    """`fn(sketch, arg)` for a KLL read-out, NULL on an empty sketch:
    Spark's quantile and rank read-outs throw on n = 0 (an all-NULL
    or all-NaN column), which would fail every column of the query."""
    return f"CASE WHEN kll_sketch_get_n_double({sketch}) > 0 THEN {fn}({sketch}, {arg}) END"


def _double_array(vals: Sequence[float]) -> str:
    return "array(" + ", ".join(lit(float(v)) for v in vals) + ")"


def hll_sketches(
    df: DataFrame, cols: Sequence[str], lgk: int = DEFAULT_HLL_LGK
) -> DataFrame:
    """(column_name, hll binary) — persistable, MERGEABLE cardinality
    state via Spark's native DataSketches HLL (hll_sketch_agg; ~1%
    relative error at lgk=12, fixed ≤ 2^lgk bytes per column). Unlike
    approx_count_distinct (estimate-only), the sketch itself survives:
    snapshots store it, and cross-snapshot questions — union
    cardinality, newly-seen-value counts — are one hll_union away,
    JVM-side, no raw data. All values hash as strings so one sketch
    schema fits every column type."""
    return _sketch_table(
        df, cols, [("hll", f"hll_sketch_agg(CAST({{c}} AS STRING), {int(lgk)})")]
    )


def hll_compare(base: DataFrame, cur: DataFrame) -> DataFrame:
    """Cardinality drift from two persisted hll_sketches tables:
    (column_name, distinct_base, distinct_cur, distinct_union,
    est_new_values) — est_new_values = union − base estimates how many
    values the current snapshot introduced (within sketch error)."""
    b = base.select("column_name", F.col("hll").alias("_hb"))
    c = cur.select("column_name", F.col("hll").alias("_hc"))
    j = b.join(c, "column_name", "inner")
    return j.select(
        "column_name",
        F.hll_sketch_estimate("_hb").alias("distinct_base"),
        F.hll_sketch_estimate("_hc").alias("distinct_cur"),
        F.hll_sketch_estimate(F.hll_union("_hb", "_hc")).alias(
            "distinct_union"
        ),
    ).withColumn(
        "est_new_values",
        F.greatest(
            F.lit(0), F.col("distinct_union") - F.col("distinct_base")
        ),
    )


def theta_sketches(
    df: DataFrame, cols: Sequence[str], lg_nom_entries: int = 12
) -> DataFrame:
    """(column_name, theta binary) — mergeable DataSketches Theta
    sketches (theta_sketch_agg). Unlike HLL, Theta supports set
    INTERSECTION and DIFFERENCE, so two persisted snapshots can answer
    'how many clip_ids appeared / vanished / survived' without ever
    re-reading raw rows — the membership-churn side of the north
    star's uniqueness + drift story. Below ~2^lgk distinct values the
    sketch retains every hash (estimates are exact); above, relative
    error ~1/sqrt(2^lgk) (~1.6% at lgk=12). Values hash as strings so
    one schema fits every key type."""
    return _sketch_table(
        df,
        cols,
        [("theta", f"theta_sketch_agg(CAST({{c}} AS STRING), {int(lg_nom_entries)})")],
    )


def theta_compare(base: DataFrame, cur: DataFrame) -> DataFrame:
    """Membership churn from two persisted theta_sketches tables:
    (column_name, distinct_base, distinct_cur, est_common,
    est_appeared, est_vanished, distinct_union) — appeared = cur∖base,
    vanished = base∖cur, common = base∩cur, all evaluated JVM-side on
    sketch bytes (theta_intersection / theta_difference)."""
    b = base.select("column_name", F.col("theta").alias("_tb"))
    c = cur.select("column_name", F.col("theta").alias("_tc"))
    j = b.join(c, "column_name", "inner")
    return j.select(
        "column_name",
        F.theta_sketch_estimate("_tb").alias("distinct_base"),
        F.theta_sketch_estimate("_tc").alias("distinct_cur"),
        F.theta_sketch_estimate(F.theta_intersection("_tb", "_tc")).alias(
            "est_common"
        ),
        F.theta_sketch_estimate(F.theta_difference("_tc", "_tb")).alias(
            "est_appeared"
        ),
        F.theta_sketch_estimate(F.theta_difference("_tb", "_tc")).alias(
            "est_vanished"
        ),
        F.theta_sketch_estimate(F.theta_union("_tb", "_tc")).alias(
            "distinct_union"
        ),
    )


def kll_sketches(df: DataFrame, cols: Sequence[str], k: int = KLL_K) -> DataFrame:
    """(column_name, n, kll binary) — native DataSketches KLL quantile
    sketches over double-cast columns (kll_sketch_agg_double), the
    persisted, mergeable state behind every quantile, KS and PSI
    read-out. NULLs and NaNs are excluded (Spark's agg skips NULL, KLL
    skips NaN; ±inf are kept); n comes from the sketch itself so the
    table is self-describing, and n = 0 marks a column with no values.

    KLL compaction is randomized: re-aggregating the same rows yields
    a slightly different (still rank-error-bounded) sketch, so
    persist the table once per snapshot and compare persisted bytes —
    don't recompute per comparison."""
    sk = _kll_agg("{c}", k)
    return _sketch_table(
        df, cols, [("n", f"kll_sketch_get_n_double({sk})"), ("kll", sk)]
    )


def kll_merge(sketches: DataFrame) -> DataFrame:
    """(column_name, n, kll) — collapse a table of kll_sketches rows
    (several per column: one per micro-batch, partition or shard) into
    one merged sketch per column with kll_merge_agg_double. The merge
    keeps KLL's rank-error bound, so partial rows can be appended
    cheaply and merged on read; the shuffle carries sketch rows."""
    return sketches.groupBy("column_name").agg(
        F.expr("kll_sketch_get_n_double(kll_merge_agg_double(kll))").alias("n"),
        F.expr("kll_merge_agg_double(kll)").alias("kll"),
    )


def kll_quantiles(
    df: DataFrame,
    col: str,
    probs: Sequence[float],
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Long-format quantile estimates (group cols..., prob, estimate,
    n) from one KLL sketch per group: the partial aggregate builds a
    sketch per group and partition, and the shuffle carries those
    sketches, never values. A group with no values gets NULL
    estimates and n = 0."""
    ps = _double_array(probs)
    pairs = (
        f"zip_with({ps}, coalesce("
        + _kll_read("_sk", "kll_sketch_get_quantile_double", ps)
        + ", CAST(array() AS ARRAY<DOUBLE>)), "
        "(p, e) -> named_struct('prob', p, 'estimate', e))"
    )
    return (
        df.groupBy(*group_by)
        .agg(F.expr(_kll_agg(ident(col))).alias("_sk"))
        .selectExpr(
            *[ident(g) for g in group_by],
            f"inline({pairs})",
            "kll_sketch_get_n_double(_sk) AS n",
        )
    )


def kll_drift(
    base: DataFrame,
    cur: DataFrame,
    n_probes: int = 128,
    chunk_cols: int = 250,
    psi_buckets: int | None = None,
) -> DataFrame:
    """KS (and optionally PSI) drift from two persisted kll_sketches
    tables. Raw data is never touched. Returns (column_name, ks,
    n_base, n_cur), with a `psi` column after ks when psi_buckets is
    set (drift.sketch_drift). Either side empty (n = 0) gives NULL
    statistics for that column, never an error.

    KS: probe values are the merged sketch's quantiles at
    i/(n_probes+1), and ks = max_i |rank_base(probe_i) −
    rank_cur(probe_i)|. Error is bounded by grid resolution (merged
    CDF moves 1/(n_probes+1) between probes, so each side's at most
    twice that) plus both sketches' rank error — q81 gates the
    estimate against the exact window-cumsum KS with a tolerance
    boolean.

    PSI: psi_buckets equal-width buckets over [min, max] of both
    sides (KLL keeps the exact extremes); each side's bucket mass is a
    difference of its ranks at the interior edges, and psi =
    Σ (p_cur − p_base)·ln(p_cur / p_base) with each mass + 1e-6, the
    formula of drift.drift_metrics. A column with an infinite extreme
    has no finite grid, so its psi is NULL.

    Spark's KLL read-out functions (kll_sketch_get_quantile_double /
    get_rank) require FOLDABLE probe arguments, so this runs in two
    phases: phase 1 collects the per-column probe values (the sketch
    table is O(columns) kilobytes — driver-side by design, like every
    snapshot-state read-out); phase 2 evaluates every rank array
    JVM-side with the probes inlined as array literals, then KS and
    PSI come from those arrays in one generic projection.

    Wide-schema guard: the inlined literals are chunked `chunk_cols`
    columns per plan branch (branches unioned BALANCED — a linear
    unionByName chain re-analyzes the accumulated left subtree per
    link, O(branches^2)) — a single CASE over O(5k) columns x O(100)
    probes would build a huge expression tree and stall analysis,
    while each chunked branch stays bounded no matter how wide the
    table is. Each branch filters to its own columns, so no row is
    evaluated twice. Each branch is SQL text: composing it from Column
    objects costs ~100 py4j driver round-trips per column (~0.1
    s/column — measured 85 s at 1,000 columns), while the parser
    ingests the same tree from text in milliseconds."""
    b = base.select(
        "column_name", F.col("n").alias("n_base"), F.col("kll").alias("_kb")
    )
    c = cur.select(
        "column_name", F.col("n").alias("n_cur"), F.col("kll").alias("_kc")
    )
    j = b.join(c, "column_name", "inner")
    # the last two ranks read the merged extremes, the PSI grid's ends
    fracs = [i / (n_probes + 1.0) for i in range(1, n_probes + 1)] + [0.0, 1.0]
    probe_rows = j.selectExpr(
        "column_name",
        "CASE WHEN n_base > 0 AND n_cur > 0 THEN kll_sketch_get_quantile_double("
        f"kll_sketch_merge_double(_kb, _kc), {_double_array(fracs)}) END AS _probes",
    ).collect()
    per_col = {r.column_name: r._probes for r in probe_rows}
    col_names = sorted(per_col)

    def case(arms: list[str]) -> str:
        if not arms:
            return "CAST(NULL AS ARRAY<DOUBLE>)"
        return "CASE column_name " + " ".join(arms) + " END"

    # bucket masses: rank differences across the interior edges, with
    # rank 0 below the first edge and 1 above the last
    mass = "zip_with(concat({e}, array(1D)), concat(array(0D), {e}), (hi, lo) -> hi - lo + 1e-6D)"
    stats_sql = ["array_max(zip_with(_rb, _rc, (x, y) -> abs(x - y))) AS ks"]
    if psi_buckets:
        stats_sql.append(
            f"aggregate(zip_with({mass.format(e='_eb')}, {mass.format(e='_ec')}, "
            "(pb, pc) -> (pc - pb) * ln(pc / pb)), 0D, (acc, t) -> acc + t) AS psi"
        )
    parts: list[DataFrame] = []
    for lo in range(0, max(1, len(col_names)), max(1, chunk_cols)):
        chunk = col_names[lo : lo + chunk_cols]
        # rank arrays per column: _rb/_rc at the KS probes, _eb/_ec at
        # the PSI edges, base and current side
        arms: dict[str, list[str]] = {"_rb": [], "_rc": [], "_eb": [], "_ec": []}
        for col_name in chunk:
            if per_col[col_name] is None:
                continue
            *qs, vmin, vmax = per_col[col_name]
            rank = f"WHEN {lit(col_name)} THEN kll_sketch_get_rank_double"
            # dedup probes (repeated quantiles at heavy ties) to shrink
            # the expression; order is irrelevant under max()
            pts = _double_array(sorted(set(qs)))
            arms["_rb"].append(f"{rank}(_kb, {pts})")
            arms["_rc"].append(f"{rank}(_kc, {pts})")
            if psi_buckets and math.isfinite(vmin) and math.isfinite(vmax):
                edges = _double_array(
                    vmin + (vmax - vmin) * i / psi_buckets
                    for i in range(1, psi_buckets)
                )
                arms["_eb"].append(f"{rank}(_kb, {edges})")
                arms["_ec"].append(f"{rank}(_kc, {edges})")
        branch = j.filter(F.col("column_name").isin(chunk)) if chunk else j
        parts.append(
            branch.selectExpr(
                "column_name", "n_base", "n_cur",
                *[f"{case(a)} AS {name}" for name, a in arms.items()],
            )
            .selectExpr("column_name", *stats_sql, "n_base", "n_cur")
        )
    while len(parts) > 1:  # balanced union: O(b log b) re-analysis
        parts = [
            parts[i].unionByName(parts[i + 1]) if i + 1 < len(parts)
            else parts[i]
            for i in range(0, len(parts), 2)
        ]
    return parts[0]


def _bucket_sql(spec: ColumnSpec) -> str:
    c = ident(spec.name)
    w = (spec.bucket_hi - spec.bucket_lo) / spec.n_buckets
    raw = f"floor((CAST({c} AS DOUBLE) - {lit(spec.bucket_lo)}) / {lit(w)})"
    return f"CAST(greatest(-1, least({raw}, {lit(spec.n_buckets)})) AS STRING)"


def bucketize(spec: ColumnSpec) -> Column:
    """Fixed-grid bucket id for a numeric column: floor((x-lo)/w) with
    underflow/overflow buckets; NULL rows excluded by histogram()."""
    return F.expr(_bucket_sql(spec))


def histogram(df: DataFrame, specs: Sequence[ColumnSpec]) -> DataFrame:
    """(column_name, bucket, cnt, freq) for every spec in ONE shuffle.

    Numeric columns bucket on the spec's fixed grid (so two snapshots
    are comparable); categorical columns bucket on the value itself.
    Built as two steps of SQL text (explode to pairs; count and
    normalize in one aggregate).
    """
    pairs = ", ".join(
        f"named_struct('column_name', {lit(s.name)}, 'bucket', "
        + (_bucket_sql(s) if s.kind == "numeric" else f"CAST({ident(s.name)} AS STRING)")
        + ")"
        for s in specs
    )
    return (
        df.selectExpr(f"inline(filter(array({pairs}), p -> p.bucket IS NOT NULL))")
        .groupBy("column_name", "bucket")
        .agg(
            F.expr("count(1) AS cnt"),
            F.expr("count(1) / sum(count(1)) OVER (PARTITION BY column_name) AS freq"),
        )
    )


def correlation_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """All pairwise Pearson correlations among `cols` in ONE
    Aggregate: n(n-1)/2 F.corr expressions fuse into a single
    partial+final agg, so cost is one scan regardless of table size
    (same single-pass discipline as profile() above). The
    cross-column analyzer of the stats surface: a correlation that
    collapses (dur_ms suddenly independent of payload size) or
    appears (value keyed to user id) is a schema-semantics drift no
    per-column profile can see.

    -> (col_a, col_b, corr double, n_rows long), one row per
    unordered pair in input order; corr is NULL when either side is
    constant (zero variance), matching SQL semantics in both engines.

    Null semantics match SQL corr(): every moment (both stddevs AND
    the covariance) is computed over PAIRWISE-COMPLETE rows — rows
    where both sides are non-null — and n_rows is that pairwise
    count. (A per-column stddev over the column's own non-null rows
    combined with a pairwise covariance deviates from corr() under
    asymmetric nulls and can even yield |corr| > 1.) Cost is still
    ONE fused Aggregate / one scan: 4 expressions per pair.
    """
    cols = list(cols)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    # corr = covar / (sd_a * sd_b), via try_divide: under Spark's ANSI
    # mode the builtin corr THROWS on a zero-variance column, where
    # SQL semantics (and DuckDB) return NULL
    aggs: list[Column] = []
    for i, (a, b) in enumerate(pairs):
        ca = F.col(a).cast("double")
        cb = F.col(b).cast("double")
        both = ca.isNotNull() & cb.isNotNull()
        aggs.append(F.covar_samp(ca, cb).alias(f"__cov_{i}"))
        aggs.append(F.stddev_samp(F.when(both, ca)).alias(f"__sda_{i}"))
        aggs.append(F.stddev_samp(F.when(both, cb)).alias(f"__sdb_{i}"))
        aggs.append(
            F.count(F.when(both, F.lit(1))).cast("long").alias(f"__n_{i}")
        )
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.try_divide(
                F.col(f"__cov_{i}"),
                F.col(f"__sda_{i}") * F.col(f"__sdb_{i}"),
            ).alias("corr"),
            F.col(f"__n_{i}").alias("n_rows"),
        )
        for i, (a, b) in enumerate(pairs)
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def robust_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    z_thresh: float = 3.5,
    approx: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Median/MAD outlier detection per group: -> (group, n, median,
    mad, n_outliers, outlier_rate).

    The robust complement of the IQR rule (grouped.py / q19): modified
    z-score 0.6745*(x - median)/MAD with the standard 3.5 threshold —
    immune to the outliers themselves inflating the spread, which is
    exactly the failure mode of stddev-based rules on heavy-tailed
    duration/price columns. Degenerate groups (MAD = 0, i.e. >50% of
    values identical) fall back to flagging ANY deviation from the
    median, which is the right reading when a column is supposed to be
    constant per group.

    approx=True (the scale path) uses percentile_approx sketches for
    both medians — mergeable, bounded memory, one pass each.
    approx=False computes exact medians for small groups or oracle
    probes. Either way the shape is: per-group median (agg) ->
    broadcast back -> per-group MAD (agg) -> broadcast back -> count;
    the per-group tables are tiny relative to the fact table, so AQE
    broadcasts them and the fact table is scanned twice but SHUFFLED
    zero times on the value column.
    """
    def _median_of(col: str) -> Column:
        return (
            F.percentile_approx(col, 0.5, accuracy) if approx else F.median(col)
        )

    d = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("_g"), F.col(value_col).cast("double").alias("_v")
    )
    med = d.groupBy("_g").agg(_median_of("_v").cast("double").alias("median"))
    with_med = d.join(F.broadcast(med), "_g")
    dev = with_med.withColumn("_dev", F.abs(F.col("_v") - F.col("median")))
    mad = dev.groupBy("_g").agg(_median_of("_dev").cast("double").alias("mad"))
    scored = dev.join(F.broadcast(mad), "_g").withColumn(
        "_out",
        F.when(
            F.col("mad") > 0,
            F.abs(F.lit(0.6745) * F.col("_dev") / F.col("mad")) > z_thresh,
        ).otherwise(F.col("_dev") > 0),
    )
    return (
        scored.groupBy(F.col("_g").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.first("median"), 6).alias("median"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.sum(F.col("_out").cast("long")).cast("long").alias("n_outliers"),
        )
        .withColumn("outlier_rate", F.round(F.col("n_outliers") / F.col("n"), 6))
    )


def entropy_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Shannon entropy per column: -> (column_name, n, n_distinct,
    entropy_bits, norm_entropy).

    The information complement of the cardinality sketch: distinct
    count says how many values, entropy says how evenly they're used —
    a column drifting from uniform codes toward one dominant default
    value keeps its cardinality long after it has lost its
    information (the 'loader started writing the fallback' defect).
    norm_entropy = H / log2(n_distinct) in [0, 1]; a constant column
    (n_distinct = 1) reports 0 by convention.

    All columns ride ONE unpivot + one (column, value) aggregate; the
    per-column reduction over value frequencies is a second aggregate
    on rows already shrunk to distinct values. NULL is treated as a
    regular category (its frequency is information too — the null
    RATE lives in profile()).
    """
    unpivoted = df.select(
        [F.col(c).cast("string").alias(c) for c in cols]
    ).unpivot([], list(cols), "column_name", "value")
    freqs = unpivoted.groupBy("column_name", "value").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # per-column totals come from a tiny aggregate + broadcast join,
    # NOT a Window.partitionBy(column_name): with a handful of columns
    # that window would funnel every distinct value of a huge column
    # through a handful of reducers.
    totals = freqs.groupBy("column_name").agg(
        F.sum("cnt").cast("long").alias("_n")
    )
    scored = freqs.join(F.broadcast(totals), "column_name").withColumn(
        "_p", F.col("cnt") / F.col("_n")
    )
    out = scored.groupBy("column_name").agg(
        F.max("_n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(-F.sum(F.col("_p") * F.log2("_p")), 6).alias("entropy_bits"),
    )
    return out.withColumn(
        "norm_entropy",
        F.when(
            F.col("n_distinct") > 1,
            F.round(F.col("entropy_bits") / F.log2(F.col("n_distinct")), 6),
        ).otherwise(F.lit(0.0)),
    )


def grouped_histogram(
    df: DataFrame, part_col: str, specs: Sequence[ColumnSpec]
) -> DataFrame:
    """(partition, column_name, bucket, cnt, freq) — histogram()
    per partition value, all columns in ONE shuffle (rows explode to
    (partition, column, bucket) pairs first, then a single groupBy).
    freq normalizes within each (partition, column), so partitions of
    different sizes compare as distributions, not counts."""
    pairs = [
        F.struct(
            F.lit(s.name).alias("column_name"),
            (
                bucketize(s)
                if s.kind == "numeric"
                else F.col(s.name).cast("string")
            ).alias("bucket"),
        )
        for s in specs
    ]
    exploded = df.select(
        F.col(part_col).cast("string").alias("partition"),
        F.explode(F.array(*pairs)).alias("p"),
    ).select("partition", "p.*")
    exploded = exploded.filter(
        F.col("bucket").isNotNull() & F.col("partition").isNotNull()
    )
    counts = exploded.groupBy("partition", "column_name", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # per-(partition, column) totals via aggregate + broadcast join —
    # same skew rationale as entropy_profile
    totals = counts.groupBy("partition", "column_name").agg(
        F.sum("cnt").alias("_n")
    )
    return counts.join(
        F.broadcast(totals), ["partition", "column_name"]
    ).withColumn("freq", F.col("cnt") / F.col("_n")).drop("_n")


def robust_outlier_rows(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    k: int = 3,
    z_thresh: float = 3.5,
    approx: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """The EXPLANATION companion to robust_outliers: the k most
    extreme outlier ROWS per group -> (group, id, value, z, rank).

    A count says a group has outliers; an analyst needs to see them.
    Same median/MAD machinery as robust_outliers (approx sketches on
    the scale path, exact for small groups / oracle probes); rows
    beyond z_thresh rank by |z| descending with the id as the
    deterministic tiebreak, top-k per group via one rank window on
    the already-scored rows. Degenerate groups (MAD = 0) rank by
    absolute deviation instead, mirroring robust_outliers' fallback.
    """
    from pyspark.sql import Window

    def _median_of(col: str) -> Column:
        return (
            F.percentile_approx(col, 0.5, accuracy) if approx else F.median(col)
        )

    d = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        F.col(value_col).cast("double").alias("_v"),
    )
    med = d.groupBy("_g").agg(_median_of("_v").cast("double").alias("_med"))
    dev = d.join(F.broadcast(med), "_g").withColumn(
        "_dev", F.abs(F.col("_v") - F.col("_med"))
    )
    mad = dev.groupBy("_g").agg(_median_of("_dev").cast("double").alias("_mad"))
    scored = dev.join(F.broadcast(mad), "_g").withColumn(
        "_z",
        F.when(
            F.col("_mad") > 0,
            F.lit(0.6745) * (F.col("_v") - F.col("_med")) / F.col("_mad"),
        ),
    )
    is_out = F.when(
        F.col("_mad") > 0, F.abs(F.col("_z")) > z_thresh
    ).otherwise(F.col("_dev") > 0)
    w = Window.partitionBy("_g").orderBy(
        F.abs(F.coalesce(F.col("_z"), F.col("_dev"))).desc(),
        F.col("_id").asc(),
    )
    return (
        scored.filter(is_out)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_g").alias(group_col),
            F.col("_id").alias(id_col),
            F.col("_v").alias(value_col),
            F.round("_z", 6).alias("z"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def pinned_value_report(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Default-fill / saturation screen per column: ->
    (column_name, n_nonnull, mode_value, mode_share, zero_share,
    min_share, max_share).

    The 'loader started writing the fallback' and 'sensor pinned at
    the rail' detectors: a healthy continuous column has a tiny mode
    share; a spiking share of one exact value (often 0, the min, or
    the max) is a defect cardinality and entropy only notice later.
    All columns ride ONE unpivot + one (column, value) aggregate;
    mode selection is a deterministic struct-max (count, then value
    string as tiebreak); min/max shares come from the same counts
    joined against per-column extrema.

    A column whose values are ALL NULL — exactly the fully-defaulted
    defect this screen hunts — still emits its row (n_nonnull=0, null
    mode/shares) via a left join against the requested column list;
    silence would read as clean.
    """
    unpivoted = df.select(
        [F.col(c).cast("double").alias(c) for c in cols]
    ).unpivot([], list(cols), "column_name", "value")
    freqs = (
        unpivoted.filter(F.col("value").isNotNull())
        .groupBy("column_name", "value")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # Values are unique per column after the (column, value) groupBy, so
    # min/max over struct(value, cnt) picks the extreme value AND its count
    # in the SAME aggregate — no self-joins back onto the freqs lineage
    # (the previous two-join form tripped Spark's "trivially true equals
    # predicate" resolution and re-scanned the unpivot twice).
    per_col = freqs.groupBy("column_name").agg(
        F.sum("cnt").cast("long").alias("n_nonnull"),
        F.max(F.struct(F.col("cnt"), F.col("value"))).alias("_mode"),
        F.min(F.struct(F.col("value"), F.col("cnt"))).alias("_lo_s"),
        F.max(F.struct(F.col("value"), F.col("cnt"))).alias("_hi_s"),
        F.sum(F.when(F.col("value") == 0.0, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("_zeros"),
    )
    filled = per_col.select(
        "column_name",
        "n_nonnull",
        F.col("_mode.value").alias("mode_value"),
        F.round(F.col("_mode.cnt") / F.col("n_nonnull"), 6).alias("mode_share"),
        F.round(F.col("_zeros") / F.col("n_nonnull"), 6).alias("zero_share"),
        F.round(F.col("_lo_s.cnt") / F.col("n_nonnull"), 6).alias("min_share"),
        F.round(F.col("_hi_s.cnt") / F.col("n_nonnull"), 6).alias("max_share"),
    )
    col_names = df.sparkSession.createDataFrame(
        [(c,) for c in cols], "column_name string"
    )
    return col_names.join(F.broadcast(filled), "column_name", "left").select(
        "column_name",
        F.coalesce(F.col("n_nonnull"), F.lit(0)).cast("long").alias("n_nonnull"),
        "mode_value",
        "mode_share",
        "zero_share",
        "min_share",
        "max_share",
    )
