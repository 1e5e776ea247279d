#!/usr/bin/env python
"""Benchmark harness for the data_validator_spark engine.

Default mode (driver contract): runs the headline queries from
`__spark_entry__.queries()` against $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the clips
validation pipeline (full rule suite incl. PCM SNR>=30dB decode).

Output contract (round-4 fix — BENCH_r03.json arrived with
`parsed: null` because the single stdout line inlined 115 per-query
timings and overflowed the driver's stdout-tail capture):

  * stdout: exactly ONE COMPACT JSON line as the LAST line —
    {"metric", "value", "unit", "sf", "cores", "clips_per_sec",
     "clips_per_sec_cold", "clips_per_sec_warm", "clips_rows",
     "n_queries", "n_failed_queries", "queries_top5",
     "queries_warm_total_sec", "detail"} —
    bounded size regardless of how many queries exist.
  * full per-query decomposition (the old giant dict, plus the
    multi-scale throughput curve) is written to BENCH_full.json
    at the repo root and committed every round. Each query runs
    twice: "queries" keeps the first (cold) time per query, as
    before, and "queries_warm" the second.

--clips-only mode: times only the clips pipeline at a given core
count; used by tools/scaling_bench.py to evidence the north rule's
N -> 4N scaling-efficiency criterion (local[8] vs local[32] on
identical pre-materialized input).

--curve mode: runs the clips pipeline at 40k/100k/1M rows (cold +
warm each) and merges the three-row table into BENCH_full.json's
"throughput_curve" key — the scale-amortization evidence row the
round-3 verdict asked to keep per-round.

All diagnostics go to stderr; stdout carries exactly one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


_BENCH_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # small-scale stand-in for the cluster-side rule "size input
    # splits so every executor core has >=2 decode tasks": at
    # bench data volumes the 128m default would yield fewer
    # splits than cores and cap scan/decode parallelism, while
    # tiny splits multiply per-task + python-worker overhead.
    "spark.sql.files.maxPartitionBytes": "64m",
    "spark.sql.files.openCostInBytes": "1m",
}


def default_heap_mb() -> int:
    """A quarter of host RAM, clamped to 1-8 GiB (perfbench's sizing):
    a fixed 24g heap does not fit a 16 GB host. At the 1M-row curve
    point on a 128 GiB host, 32 concurrent dynamic-partition write
    tasks each buffer a parquet row group of ~30KB payload rows plus
    the partition-sort spill headroom, so set SPARK_DRIVER_MEM there
    (24g was the measured fit). Cluster analogue: size executor memory
    to concurrent write tasks x row-group size, not to the input split
    size."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1024, min(8192, ram // 4 // (1 << 20)))


def build(cores: int):
    from data_validator_spark.session import build_session

    # an explicit SPARK_DRIVER_MEM always wins
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{default_heap_mb()}m")
    return build_session(app_name=f"bench_local{cores}", cores=cores,
                         extra_conf=dict(_BENCH_CONF))


def build_cluster(executors: int, exec_cores: int, exec_mem_mb: int):
    """Multi-executor emulation: local-cluster[E,C,M] launches E REAL
    executor JVMs (own heap, own GC, own python workers) on this box —
    the faithful stand-in for an E-executor cluster, unlike local[N]
    where all tasks share one JVM/GC/worker pool."""
    import os

    from data_validator_spark.session import build_session

    os.environ.setdefault("SPARK_HOME", "/opt/spark")
    os.environ["SPARK_MASTER"] = (
        f"local-cluster[{executors},{exec_cores},{exec_mem_mb}]"
    )
    conf = dict(_BENCH_CONF)
    conf.update(
        {
            "spark.executor.memory": f"{exec_mem_mb}m",
            "spark.executorEnv.PYTHONPATH": os.path.dirname(
                os.path.abspath(__file__)
            ),
        }
    )
    return build_session(
        app_name=f"bench_cluster{executors}x{exec_cores}",
        cores=None,
        shuffle_partitions=executors * exec_cores,
        extra_conf=conf,
    )


def materialize_clips(spark, rows: int, max_synth_ms: int, out_dir: str) -> dict:
    """Write the synthetic clips fixture once (generation cost excluded
    from the timed region — the benchmark measures validation, not
    synthesis)."""
    from data_validator_spark.fixtures import ClipsConfig, write_fixture

    cfg = ClipsConfig(n_rows=rows, n_partitions=8, max_synth_ms=max_synth_ms)
    paths = write_fixture(spark, cfg, out_dir)
    return paths


def time_clips_validation(spark, paths: dict, rows: int, cores: int, repeats: int = 2) -> dict:
    """Full pipeline: hard tier -> soft rules -> dedup -> referential /
    winner-selection -> audio decode+SNR -> verdicts + stats.

    Timed with >=2 passes by default and BOTH `clips_sec_cold` (first
    pass: JVM JIT + python-worker fork + page-cache warm-up) and
    `clips_sec_warm` (best subsequent pass: the steady-state number a
    long-running cluster job sees) are reported. The single-pass
    protocol produced a phantom 2.5x regression in BENCH_r02.json:
    cold first-pass wall time is bimodal in this sandbox (~11 s vs
    ~37 s on identical code), while warm passes are stable — headline
    clips_per_sec therefore uses the best pass.

    decode_partitions stays None: repartitioning before decode would
    shuffle the `bytes` payload (the largest column) — at target scale
    that shuffle IS the bottleneck, so decode parallelism follows the
    parquet file splits (spark.sql.files.maxPartitionBytes) instead.
    """
    from pyspark.sql import functions as F

    from data_validator_spark.plans import ValidationConfig, run_validation

    clips = spark.read.parquet(paths["clips"])
    tr = spark.read.parquet(paths["transcripts_ref"])
    passes: list[float] = []
    for _ in range(max(1, repeats)):
        t0 = time.monotonic()
        res = run_validation(clips, tr, cfg=ValidationConfig(persist=True))
        # materialize every output the engine contract produces,
        # SEQUENTIALLY. Round 4 overlapped the metadata-only actions
        # with the decode stage on driver threads; the round-5
        # per-phase decomposition (BENCH.md; per-layer spans today
        # come from `perfbench/run.py --workload clips_full --trace 1`)
        # measured that concurrency REGRESSING both pinned levels —
        # 8-core warm wall 32.3s sequential vs 67.2s concurrent,
        # process-tree CPU 230s vs 323s — scheduler/GC contention against the saturated
        # decode stage costs far more than the overlap recovers. The
        # decode stage itself scales 4.09x from 2 to 8 cores; the
        # post-decode actions are each sub-second against the warm
        # caches, so there is nothing left worth overlapping.
        n_valid = res.validated.count()  # materializes audio+v caches
        n_invalid = res.invalid.count()
        verdicts = res.partition_verdicts.collect()
        stats_rows = res.summary_stats.collect()
        hist_n = res.histograms.count()
        elapsed = time.monotonic() - t0
        res.unpersist()
        log(f"  clips pass: {elapsed:.2f}s")
        passes.append(elapsed)
    best = min(passes)
    warm = min(passes[1:]) if len(passes) > 1 else passes[0]
    return {
        "clips_rows": rows,
        "clips_sec": round(best, 3),
        "clips_sec_cold": round(passes[0], 3),
        "clips_sec_warm": round(warm, 3),
        "clips_per_sec": round(rows / best, 1),
        "clips_per_sec_cold": round(rows / passes[0], 1),
        "clips_per_sec_warm": round(rows / warm, 1),
        "n_valid_out": n_valid,
        "n_hard_invalid": n_invalid,
        "n_partitions": len(verdicts),
        "n_stats_rows": len(stats_rows),
        "n_hist_buckets": hist_n,
    }


def time_queries(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, float]]:
    """Cold and warm seconds per query: each query runs twice back to
    back. The warm run reuses the plan's generated classes (the codegen
    cache is sized to hold them, see session.py), so it times execution
    without Janino; the cold run also pays compiling them. -1.0 marks a
    failed run."""
    import __spark_entry__ as entry

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name, fn in entry.queries().items():
        try:
            for out in (cold, warm):
                t0 = time.monotonic()
                n = len(fn(spark, sf_dir).collect())
                out[name] = round(time.monotonic() - t0, 3)
            log(f"  {name}: cold {cold[name]}s, warm {warm[name]}s ({n} rows)")
        except Exception as e:  # keep the bench robust to one bad query
            cold.setdefault(name, -1.0)
            warm[name] = -1.0
            log(f"  {name}: FAILED {e}")
    return cold, warm


_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
FULL_DETAIL_PATH = os.path.join(_REPO_DIR, "BENCH_full.json")


def _load_full_detail() -> dict:
    """Prior BENCH_full.json, so keys produced by other modes (e.g. the
    --curve table) survive a default-mode rewrite."""
    try:
        with open(FULL_DETAIL_PATH) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _write_full_detail(update: dict) -> None:
    full = _load_full_detail()
    full.update(update)
    with open(FULL_DETAIL_PATH, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"full detail -> {FULL_DETAIL_PATH}")


def compact_summary(result: dict) -> dict:
    """Bounded-size driver-facing summary: never inlines the per-query
    dict (115 entries overflowed the driver's stdout-tail capture in
    round 3 and destroyed the official artifact)."""
    out = {
        k: result[k]
        for k in (
            "metric", "value", "unit", "sf", "cores", "executors",
            "clips_rows", "clips_sec", "clips_sec_cold", "clips_sec_warm",
            "clips_per_sec", "clips_per_sec_cold", "clips_per_sec_warm",
            "queries_warm_total_sec",
        )
        if k in result
    }
    q = result.get("queries")
    if q is not None:
        ok = {k: v for k, v in q.items() if v >= 0}
        out["n_queries"] = len(q)
        out["n_failed_queries"] = len(q) - len(ok)
        out["queries_total_sec"] = round(sum(ok.values()), 3)
        out["queries_top5"] = {
            k: v for k, v in sorted(ok.items(), key=lambda kv: -kv[1])[:5]
        }
    out["detail"] = "BENCH_full.json"
    return out


def run_curve(args) -> dict:
    """Three-row cold/warm throughput table (40k / 100k / 1M clips by
    default): evidences how fixed costs amortize with scale as the
    decode mix changes round-over-round."""
    rows_list = [int(r) for r in args.curve_rows.split(",")]
    curve = []
    for rows in rows_list:
        spark = build(args.cores)
        tmp = tempfile.mkdtemp(prefix=f"bench_curve_{rows}_")
        try:
            log(f"curve: materializing {rows} clips -> {tmp}")
            paths = materialize_clips(spark, rows, args.max_synth_ms, tmp)
            log(f"curve: timing {rows} clips ({args.cores} cores)")
            r = time_clips_validation(spark, paths, rows, args.cores, args.repeats)
            curve.append({
                "rows": rows,
                "cores": args.cores,
                "max_synth_ms": args.max_synth_ms,
                "clips_sec_cold": r["clips_sec_cold"],
                "clips_sec_warm": r["clips_sec_warm"],
                "clips_per_sec_cold": r["clips_per_sec_cold"],
                "clips_per_sec_warm": r["clips_per_sec_warm"],
            })
            # checkpoint after every point: a crash at the largest
            # scale (the likeliest) must not lose the finished rows
            _write_full_detail({"throughput_curve": curve})
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                spark.stop()
            except Exception:
                pass  # a dead JVM must not mask the real error
    return {
        "metric": "throughput_curve_rows",
        "value": len(curve),
        "unit": "rows",
        "cores": args.cores,
        "curve": curve,
        "detail": "BENCH_full.json",
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--executors", type=int, default=0,
                    help="if >0, use local-cluster[executors, exec-cores, exec-mem] (real executor JVMs)")
    ap.add_argument("--exec-cores", type=int, default=8)
    ap.add_argument("--exec-mem-mb", type=int, default=8192)
    ap.add_argument("--rows", type=int, default=int(os.environ.get("BENCH_CLIP_ROWS", "40000")))
    ap.add_argument("--max-synth-ms", type=int, default=600)
    ap.add_argument("--clips-only", action="store_true")
    ap.add_argument("--repeats", type=int, default=2,
                    help="timed passes in one session; cold (first) and warm "
                         "(best subsequent) are both reported, headline uses best")
    ap.add_argument("--skip-clips", action="store_true")
    ap.add_argument("--clips-dir", default=None,
                    help="pre-materialized fixture dir (skip generation)")
    ap.add_argument("--curve", action="store_true",
                    help="run the multi-scale clips throughput curve and "
                         "merge the table into BENCH_full.json")
    ap.add_argument("--curve-rows", default="40000,100000,1000000",
                    help="comma-separated row counts for --curve")
    args = ap.parse_args()

    if args.curve:
        print(json.dumps(run_curve(args)))
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    if args.executors > 0:
        spark = build_cluster(args.executors, args.exec_cores, args.exec_mem_mb)
        total_cores = args.executors * args.exec_cores
        result: dict = {"sf": sf, "executors": args.executors,
                        "cores": total_cores}
    else:
        spark = build(args.cores)
        total_cores = args.cores
        result = {"sf": sf, "cores": args.cores}

    tmp = None
    try:
        if not args.skip_clips:
            if args.clips_dir:
                paths = {
                    "clips": f"{args.clips_dir}/clips",
                    "transcripts_ref": f"{args.clips_dir}/transcripts_ref",
                }
            else:
                tmp = tempfile.mkdtemp(prefix="bench_clips_")
                log(f"materializing {args.rows} clips -> {tmp}")
                paths = materialize_clips(spark, args.rows, args.max_synth_ms, tmp)
            log(f"timing clips validation ({total_cores} cores)")
            result.update(time_clips_validation(spark, paths, args.rows, total_cores, args.repeats))

        if not args.clips_only:
            log(f"timing headline queries at {sf_dir}")
            q, q_warm = time_queries(spark, sf_dir)
            total = round(sum(v for v in q.values() if v >= 0), 3)
            result.update(
                {
                    "metric": "headline_queries_total_sec",
                    "value": total,
                    "unit": "sec",
                    "queries": q,
                    "queries_warm": q_warm,
                    "queries_warm_total_sec": round(
                        sum(v for v in q_warm.values() if v >= 0), 3
                    ),
                }
            )
        else:
            result.update(
                {
                    "metric": "validated_clips_per_sec",
                    "value": result.get("clips_per_sec", 0.0),
                    "unit": "clips/sec",
                }
            )
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()

    # Full decomposition to the committed artifact; compact bounded
    # summary as the one-and-only stdout line (driver contract).
    _write_full_detail({"run": result})
    print(json.dumps(compact_summary(result)))


if __name__ == "__main__":
    main()
