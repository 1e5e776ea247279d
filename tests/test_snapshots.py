"""Snapshot store tests: capture -> read -> compare from persisted
state only (plans/snapshots.py)."""

import pytest
from pyspark.sql import functions as F

from data_validator_spark.operators import stats
from data_validator_spark.plans.snapshots import SnapshotStore

SPECS = [
    stats.ColumnSpec("v", "numeric", 0.0, 1000.0, 25),
    stats.ColumnSpec("cat", "categorical"),
]


def frame(spark, shift=0.0, cat_flip=False, id_off=0):
    base = spark.range(0, 40_000, numPartitions=4)
    cat = F.when(
        F.col("id") % 10 < (7 if not cat_flip else 3), F.lit("a")
    ).otherwise(F.lit("b"))
    return base.select(
        ((F.col("id") % 900) * (1.0 + shift)).alias("v"),
        cat.alias("cat"),
        (F.col("id") + id_off).cast("string").alias("key"),
    )


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("snaps"))
    s = SnapshotStore(root)
    s.capture(
        frame(spark), "2026-01-01", SPECS, hh_cols=["cat"], hh_k=8,
        key_cols=["key"],
    )
    s.capture(
        frame(spark, shift=0.15, cat_flip=True, id_off=10_000),
        "2026-01-08", SPECS, hh_cols=["cat"], hh_k=8, key_cols=["key"],
    )
    return s


def test_artifacts_persisted_with_lineage(spark, store):
    prof = store.read(spark, "2026-01-01", "profile")
    assert {r.column_name for r in prof.collect()} == {"v", "cat"}
    kll = store.read(spark, "2026-01-01", "kll")
    assert kll.columns == ["column_name", "n", "kll"]
    hh = store.read(spark, "2026-01-01", "heavy_hitters").collect()
    assert {r.item for r in hh} == {"a", "b"}
    man = store.snapshots(spark)
    assert man.filter(F.col("snapshot_id") == "2026-01-08").count() == 1
    assert "created_at" in man.columns
    with pytest.raises(ValueError):
        store.read(spark, "2026-01-01", "raw_rows")


def test_compare_is_raw_data_free_and_detects_drift(spark, store):
    cmp_self = {
        r.column_name: r
        for r in store.compare(spark, "2026-01-01", "2026-01-01").collect()
    }
    assert all(r.drift_status == "pass" for r in cmp_self.values())
    assert cmp_self["v"].sketch_ks == pytest.approx(0.0, abs=1e-9)

    cmp = {
        r.column_name: r
        for r in store.compare(spark, "2026-01-01", "2026-01-08").collect()
    }
    # categorical flip 70/30 -> 30/70: PSI way past fail
    assert cmp["cat"].drift_status == "fail"
    assert cmp["cat"].sketch_ks is None  # no sketch for categoricals
    # numeric 15% scale shift: both engines agree drift is real
    assert cmp["v"].ks > 0.05 and cmp["v"].sketch_ks > 0.05
    assert cmp["v"].sketch_ks == pytest.approx(cmp["v"].ks, abs=0.05)
    assert cmp["v"].n_base == 40_000 and cmp["v"].n_cur == 40_000


def test_hll_artifact_and_cardinality_drift(spark, store):
    """HLL sketches persist per column and compare() answers
    cardinality drift from sketch bytes only (within ~1% rsd at
    lgk=12). frame() gives v 900 distinct both sides, cat 2 both."""
    hll = store.read(spark, "2026-01-01", "hll")
    assert hll.columns == ["column_name", "hll"]
    assert {r.column_name for r in hll.collect()} == {"v", "cat"}

    cmp = {
        r.column_name: r
        for r in store.compare(spark, "2026-01-01", "2026-01-08").collect()
    }
    assert cmp["cat"].distinct_base == 2 and cmp["cat"].distinct_cur == 2
    assert cmp["cat"].distinct_union == 2 and cmp["cat"].est_new_values == 0
    # v: 900 ints vs the same 900 ints * 1.15 -> overlap only at 0
    assert abs(cmp["v"].distinct_base - 900) <= 27
    assert abs(cmp["v"].distinct_union - 1799) <= 54
    assert cmp["v"].est_new_values > 800


def test_theta_membership_drift(spark, store):
    """Theta key churn from persisted sketches: ids 0..39999 vs
    10000..49999 -> 30000 survive, 10000 appear, 10000 vanish (all
    exact below 2^lgk? no — 40k > 4096, so within ~5%)."""
    md = {
        r.column_name: r
        for r in store.membership_drift(
            spark, "2026-01-01", "2026-01-08"
        ).collect()
    }
    k = md["key"]
    assert abs(k.distinct_base - 40_000) <= 2_000
    assert abs(k.est_common - 30_000) <= 2_500
    assert abs(k.est_appeared - 10_000) <= 2_500
    assert abs(k.est_vanished - 10_000) <= 2_500
    assert abs(k.distinct_union - 50_000) <= 2_500


def test_old_tdigest_snapshot_is_refused_clearly(spark, store):
    """A snapshot captured before the KLL sketch replaced the t-digest
    has a `tdigest` artifact and no `kll` one: reading or comparing it
    names the snapshot and asks for a re-capture instead of failing
    in a schema error."""
    old = "2025-12-25"
    spark.createDataFrame(
        [("v", 1, 0.0, 1.0, [0.5], [1.0])],
        "column_name string, n long, vmin double, vmax double, "
        "means array<double>, weights array<double>",
    ).write.parquet(f"{store.root}/{old}/tdigest")
    store.read(spark, "2026-01-01", "histograms").write.parquet(
        f"{store.root}/{old}/histograms"
    )
    with pytest.raises(ValueError, match=f"{old}.*re-capture"):
        store.read(spark, old, "kll")
    with pytest.raises(ValueError, match=f"{old}.*re-capture"):
        store.compare(spark, old, "2026-01-08")
