"""spark-submit job entry point: payload-driven resumable run."""

from __future__ import annotations

import json
import sys

import job
from data_validator_spark.plans.manifest import CheckpointManifest
from data_validator_spark.session import ENGINE_CONF, codegen_compiles


def _run(payload_path: str, capsys) -> dict:
    old = sys.argv
    sys.argv = ["job.py", "--payload", payload_path]
    try:
        assert job.main() == 0
    finally:
        sys.argv = old
    out_lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    return json.loads(out_lines[-1])


def test_job_runs_and_resumes(spark, fixture_paths, tmp_path, capsys, monkeypatch):
    out = str(tmp_path / "out")
    payload = {
        "clips_path": fixture_paths["clips"],
        "transcripts_ref_path": fixture_paths["transcripts_ref"],
        "output_dir": out,
        "manifest_path": str(tmp_path / "manifest"),
    }
    p = tmp_path / "payload.json"
    p.write_text(json.dumps(payload))

    r1 = _run(str(p), capsys)
    assert r1["status"] == "ok" and r1["partitions"] > 0
    assert spark.read.parquet(f"{out}/validated").count() == r1["validated_rows"]
    assert spark.read.parquet(f"{out}/invalid").count() > 0
    assert spark.read.parquet(f"{out}/stats").count() > 0

    # second run: manifest says everything is validated -> no-op
    r2 = _run(str(p), capsys)
    assert r2 == {"status": "up_to_date", "partitions": 0}

    # the same op again into a fresh output dir and manifest: a warm op
    # compiles no whole-stage class, in the manifest commit or outside
    # it (Spark's codegen cache holds the plans' classes: session.py;
    # the commit's validated_at is data, not an inlined literal)
    commit = []
    record = CheckpointManifest.record

    def counted_record(self, rows):
        n0, _ = codegen_compiles(spark)
        record(self, rows)
        commit.append(codegen_compiles(spark)[0] - n0)

    monkeypatch.setattr(CheckpointManifest, "record", counted_record)
    p2 = tmp_path / "payload2.json"
    p2.write_text(json.dumps({**payload, "output_dir": out + "2", "manifest_path": str(tmp_path / "manifest2")}))
    n0, ms0 = codegen_compiles(spark)
    r3 = _run(str(p2), capsys)
    n1, ms1 = codegen_compiles(spark)
    assert r3 == {**r1, "wall_sec": r3["wall_sec"]}
    assert len(commit) == 1
    assert n1 - n0 - commit[0] == 0, (n1 - n0, ms1 - ms0)
    assert commit[0] == 0


def test_engine_conf_fills_only_what_spark_submit_left_unset():
    """Spark-free: job.py's session gets every engine setting that
    spark-submit did not set; an explicit --conf keeps its value."""
    submitted = {
        "spark.master": "local-cluster[2,2,2048]",
        "spark.sql.shuffle.partitions": "8",
        "spark.ui.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    }
    filled = job.engine_conf_defaults(submitted)
    assert filled == {k: v for k, v in ENGINE_CONF.items() if k not in submitted}
    conf = {**submitted, **filled}
    assert conf["spark.sql.shuffle.partitions"] == "8"
    assert conf["spark.ui.enabled"] == "true"
    assert conf["spark.sql.execution.arrow.maxRecordsPerBatch"] == "256"
    assert conf["spark.sql.parquet.columnarReaderBatchSize"] == "512"
    assert conf["spark.sql.codegen.cache.maxEntries"] == "1024"
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert job.engine_conf_defaults({}) == ENGINE_CONF
