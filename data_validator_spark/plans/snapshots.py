"""Snapshot store: persisted per-snapshot statistics for drift checks.

The north star's drift contract is "KS / PSI ... against a baseline
SNAPSHOT". At 10^12 rows the baseline must never be re-scanned per
comparison, so a snapshot here is the set of small, mergeable summary
tables one profiling pass produces:

    profile        — null rate / min / max / HLL / KLL quantiles
    histograms     — fixed-grid freqs (drift_metrics input)
    kll            — KLL sketch rows per numeric column (sketch_drift
                     input; mergeable with stats.kll_merge, so partial
                     snapshots can be unioned later)
    heavy_hitters  — Misra–Gries top-k for high-cardinality columns
    hll / theta    — cardinality and key-membership sketches

Each artifact is a plain parquet directory under
root/<snapshot_id>/<artifact>; a `_manifest` parquet carries lineage
(snapshot id, artifact row counts, rule version, created_at) in the
same append-only style as plans/manifest.py. Everything is
DataFrame-sized-by-columns, so a snapshot is kilobytes regardless of
input rows. The artifact directory names are the format: a snapshot
written before the KLL sketch replaced the t-digest has a `tdigest`
directory and no `kll` one, and reading it raises a ValueError that
asks for a re-capture.

compare() then answers drift questions from persisted state alone:
histogram KS/PSI verdicts (drift_verdicts) joined with sketch-based
KS/PSI (sketch_drift) — two engines' worth of drift evidence, zero
raw-data reads. q76 gates the full write -> read -> compare loop.

Reference counterpart: weekly snapshot diffing
(weekly_report.py:217-283) — ad-hoc Counter diffs there, persisted
mergeable summaries here.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import drift, stats
from ..operators.heavy_hitters import heavy_hitters

ARTIFACTS = ("profile", "histograms", "kll", "heavy_hitters", "hll", "theta")


def _exists(spark: SparkSession, path: str) -> bool:
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return bool(p.getFileSystem(sc._jsc.hadoopConfiguration()).exists(p))


@dataclass(frozen=True)
class SnapshotStore:
    root: str

    def _path(self, snapshot_id: str, artifact: str) -> str:
        return f"{self.root}/{snapshot_id}/{artifact}"

    def capture(
        self,
        df: DataFrame,
        snapshot_id: str,
        specs: Sequence[stats.ColumnSpec],
        hh_cols: Sequence[str] = (),
        hh_k: int = 100,
        rule_version: str = "v1",
        key_cols: Sequence[str] = (),
    ) -> None:
        """Profile `df` once per artifact family and persist the
        summaries. The KLL sketch table is written RAW (not read
        out), so later snapshots can be compared or even merged
        against it.

        Scale shape: each artifact is an independent small write; the
        scans stay separate on purpose — profile and each sketch table
        are one JVM Aggregate, histogram explodes to long rows, heavy
        hitters only visits hh_cols. Fuse by persisting `df` upstream
        if the input is not a re-readable table."""
        spark = df.sparkSession
        num_cols = [s.name for s in specs if s.kind == "numeric"]
        stats.profile(df, specs, quantile_method="kll").write.mode(
            "overwrite"
        ).parquet(self._path(snapshot_id, "profile"))
        stats.histogram(df, specs).write.mode("overwrite").parquet(
            self._path(snapshot_id, "histograms")
        )
        if num_cols:
            stats.kll_sketches(df, num_cols).write.mode("overwrite").parquet(
                self._path(snapshot_id, "kll")
            )
        stats.hll_sketches(df, [s.name for s in specs]).write.mode(
            "overwrite"
        ).parquet(self._path(snapshot_id, "hll"))
        if key_cols:
            stats.theta_sketches(df, list(key_cols)).write.mode(
                "overwrite"
            ).parquet(self._path(snapshot_id, "theta"))
        for c in hh_cols:
            heavy_hitters(df, c, k=hh_k).withColumn(
                "column_name", F.lit(c)
            ).write.mode("append").parquet(
                self._path(snapshot_id, "heavy_hitters")
            )
        manifest = spark.createDataFrame(
            [
                {
                    "snapshot_id": snapshot_id,
                    "rule_version": rule_version,
                    "n_specs": len(specs),
                    "n_hh_cols": len(hh_cols),
                    "n_key_cols": len(key_cols),
                }
            ]
        ).withColumn("created_at", F.current_timestamp())
        manifest.write.mode("append").parquet(f"{self.root}/_manifest")

    def read(
        self, spark: SparkSession, snapshot_id: str, artifact: str
    ) -> DataFrame:
        if artifact not in ARTIFACTS:
            raise ValueError(f"unknown artifact {artifact!r}")
        path = self._path(snapshot_id, artifact)
        if (
            artifact == "kll"
            and not _exists(spark, path)
            and _exists(spark, self._path(snapshot_id, "tdigest"))
        ):
            raise ValueError(
                f"snapshot {snapshot_id!r} in {self.root} has the retired "
                "t-digest sketch format (a `tdigest` artifact, no `kll`); "
                "re-capture it with SnapshotStore.capture to compare it"
            )
        return spark.read.parquet(path)

    def snapshots(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(f"{self.root}/_manifest")

    def compare(
        self,
        spark: SparkSession,
        baseline_id: str,
        current_id: str,
        psi_warn: float = 0.1,
        psi_fail: float = 0.25,
        ks_fail: float = 0.2,
    ) -> DataFrame:
        """Drift verdicts from persisted state only: histogram-based
        PSI/KS with thresholds (drift_verdicts) full-outer-joined with
        sketch-based KS/PSI (sketch_drift, numeric columns only) and
        HLL cardinality drift (hll_compare, every column) — columns
        (column_name, psi, ks, n_buckets, drift_status, sketch_ks,
        sketch_psi, n_base, n_cur, distinct_base, distinct_cur,
        distinct_union, est_new_values)."""
        hist_v = drift.drift_verdicts(
            self.read(spark, baseline_id, "histograms"),
            self.read(spark, current_id, "histograms"),
            psi_warn=psi_warn,
            psi_fail=psi_fail,
            ks_fail=ks_fail,
        )
        sk = drift.sketch_drift(
            self.read(spark, baseline_id, "kll"),
            self.read(spark, current_id, "kll"),
        ).select(
            "column_name",
            F.col("ks").alias("sketch_ks"),
            F.col("psi").alias("sketch_psi"),
            "n_base",
            "n_cur",
        )
        card = stats.hll_compare(
            self.read(spark, baseline_id, "hll"),
            self.read(spark, current_id, "hll"),
        )
        return hist_v.join(sk, "column_name", "full_outer").join(
            card, "column_name", "full_outer"
        )

    def membership_drift(
        self, spark: SparkSession, baseline_id: str, current_id: str
    ) -> DataFrame:
        """Key churn between two snapshots from persisted Theta
        sketches alone (capture() with key_cols): per key column,
        how many values appeared / vanished / survived —
        theta_intersection / theta_difference on sketch bytes, set
        operations the HLL artifact cannot answer. Columns
        (column_name, distinct_base, distinct_cur, est_common,
        est_appeared, est_vanished, distinct_union)."""
        return stats.theta_compare(
            self.read(spark, baseline_id, "theta"),
            self.read(spark, current_id, "theta"),
        )


# ---------------------------------------------------------------- dedup state


@dataclass(frozen=True)
class DedupStateStore:
    """Persisted corpus-level CONTENT-dedup state for incremental
    ingest: production pipelines dedup each NEW batch against the
    existing corpus without re-scanning it, so the state carries the
    small derived artifacts cross-batch matching needs — never the
    text or payload bytes:

        text_fp      (fp, keep_id)           md5 of normalized text
        text_sig     (id, sig)               minhash signatures, keepers only
        text_bands   (id, band, bucket)      LSH band buckets, keepers only
        audio_fp     (fp, keep_id)           md5 of payload bytes
        audio_emb    (id, embedding)         log-mel embeddings, keepers only
        audio_bands  (id, band, bucket)      hyperplane buckets, keepers only
        *_meta       one-row parquet pinning the banding parameters

    Per-keeper state is FIXED-SIZE (one 64-long signature / one
    2*n_mels-float embedding + a handful of band rows), so state for a
    10^12-doc corpus is ~3 orders of magnitude smaller than the corpus
    and every cross-batch operation is a join keyed on (band, bucket)
    or a 128-bit fingerprint — the old batches' parquet is never read
    again (gated by tests/test_incremental_dedup.py, which deletes the
    batch-1 input before ingesting batch 2).

    Banding parameters must agree across every ingest into one store
    (different n_hashes/bands/planes produce incomparable buckets);
    check_meta() writes them on first ingest and raises on mismatch.

    Reference counterpart: the reference dedups only within one run
    (survey_prep.py winner-selection); incremental corpus state is the
    training-pipeline tier on top.
    """

    root: str

    def _p(self, artifact: str) -> str:
        return f"{self.root}/{artifact}"

    def exists(self, spark: SparkSession, artifact: str) -> bool:
        return _exists(spark, self._p(artifact))

    def read(self, spark: SparkSession, artifact: str) -> DataFrame:
        return spark.read.parquet(self._p(artifact))

    def read_pinned(self, spark: SparkSession, artifact: str) -> DataFrame:
        """Read the artifact AS OF NOW: the file list is captured
        eagerly, so rows appended later in the same run never leak
        into this DataFrame's lazy re-evaluations. The incremental
        pipelines resolve a batch against the state at ingest START
        and then append — with a plain read, Spark's execution-time
        file listing would make the batch match its own just-written
        rows (a doc would resolve to itself as 'exact_state')."""
        sc = spark.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(self._p(artifact))
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        files = [
            st.getPath().toString()
            for st in fs.listStatus(path)
            if st.isFile()
            and not st.getPath().getName().startswith(("_", "."))
        ]
        return spark.read.parquet(*files)

    def append(self, df: DataFrame, artifact: str) -> None:
        df.write.mode("append").parquet(self._p(artifact))

    def check_meta(self, spark: SparkSession, family: str, params: dict) -> None:
        """First ingest writes the banding parameters; later ingests
        must present identical ones (state buckets would otherwise be
        silently incomparable — fail loudly instead)."""
        art = f"{family}_meta"
        if not self.exists(spark, art):
            spark.createDataFrame(
                [{k: int(v) for k, v in sorted(params.items())}]
            ).coalesce(1).write.mode("overwrite").parquet(self._p(art))
            return
        stored = self.read(spark, art).collect()[0].asDict()
        mismatched = {
            k: (stored.get(k), int(v))
            for k, v in params.items()
            if stored.get(k) != int(v)
        }
        if mismatched:
            raise ValueError(
                f"DedupStateStore {self.root} was built with different "
                f"{family} banding parameters: {mismatched} "
                "(stored, requested) — use a fresh store root or the "
                "original parameters"
            )
