#!/usr/bin/env python3
"""Benchmark runner for the validation engine.

    python3 perfbench/run.py --workload clips_full --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. One run is one fresh Spark JVM at
local[k], k = min(4, usable cores), driven closed-loop by this
process on one thread:

  1. make or reuse the seeded input (cached, not timed);
  2. set up: from process start to ready, i.e. imports, JVM launch,
     session build and opening the inputs (timed once: see README.md);
  3. the cold op (the first op in the fresh JVM), then a fixed number
     of warm ops back to back: --seconds / the workload's nominal op
     time, so about --seconds of warm ops on a 4-core host;
  4. with --trace 1, the layer extras (ladder, kernel table) and one
     checked wide-schema op, for the layers no workload op runs.

Every op's outputs are checked; a failed op counts in `failed` and is
never dropped. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Diagnostics, the
host record and the span tree go to stderr and to
.bench_build/perfbench/results/. Exits 1 when any op failed its check,
2 when the engine cannot be imported.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "rows_per_s": "rows/s",
    "cpu_s_per_krow": "s",
    "setup_s": "s",
}

_S = "s"
PER_LAYER = {
    "cold_s": _S,
    "session.start_s": _S,
    "plans.build_s": _S,
    "plans.pending_s": _S,
    "plans.record_s": _S,
    "plans.rerun_bytes_ratio": "ratio",
    "rules.eval_s": _S,
    **{f"audio.decode_ms.{c}": "ms" for c in ("pcm16", "flac", "mulaw", "opus")},
    "audio.synth_ms": "ms",
    "audio.snr_ms": "ms",
    "audio.quality_ms": "ms",
    **{f"audio.attempts.{c}": "count" for c in ("pcm16", "flac", "mulaw", "opus")},
    **{f"audio.errors.{c}": "count" for c in ("pcm16", "flac", "mulaw", "opus")},
    "audio.attempt_frac": "ratio",
    "audio.stage_s": _S,
    "spark.scan_meta_s": _S,
    "spark.scan_bytes_s": _S,
    "spark.arrow_null_s": _S,
    **{f"operators.{a}_s": _S for a in ("validated", "invalid", "verdicts", "summary_stats", "histograms")},
    **{
        f"operators.{a}_s": _S
        for a in ("profile_build", "profile", "histogram", "kll_sketches", "kll_drift")
    },
    **{f"write.{a}_s": _S for a in ("validated", "invalid", "stats", "histograms")},
    "spark.gc_s": _S,
    "spark.spill_mb": "MiB",
    "spark.shuffle_write_mb": "MiB",
    "spark.input_mb": "MiB",
    "spark.jvm_read_mb": "MiB",
    "spark.input_bytes_ratio": "ratio",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_cpu_s": _S,
    "peak_rss_mb": "MiB",
    "py_peak_rss_mb": "MiB",
    "err_frac": "ratio",
    "ops.warm": "count",
    "trace.rows_per_s": "rows/s",
}

MIN_WARM_OPS = 2
EXCURSION_OP = -2  # op id of the spans of a traced run's excursion ops
BLAS_ENV = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Ctx:
    """What a workload needs from the run: paths, seed, sizes, tracer."""

    def __init__(self, args, cores: int, tracer):
        base = os.path.join(ROOT, ".bench_build", "perfbench")
        self.cache_dir = os.path.join(base, "inputs")
        self.results_dir = os.path.join(base, "results")
        self.work_dir = os.path.join(base, f"work-{os.getpid()}")
        self.tmp_dir = os.path.join(self.work_dir, "tmp")
        self.event_dir = os.path.join(self.work_dir, "events")
        for d in (self.cache_dir, self.results_dir, self.tmp_dir, self.event_dir):
            os.makedirs(d, exist_ok=True)
        self.seed = args.seed
        self.scale = args.scale
        self.corrupt = args.corrupt_output
        self.cores = cores
        self.tracer = tracer


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(ctx: Ctx) -> dict:
    """BLAS pools at 1, temp files and Spark scratch inside the
    checkout, and the JVM heap sized from host RAM (a quarter,
    between 1 and 8 GiB). Must run before the JVM starts."""
    for k in BLAS_ENV:
        os.environ[k] = "1"
    heap_mb = max(1024, min(8192, host_ram_bytes() // 4 // (1 << 20)))
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["TMPDIR"] = ctx.tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = ctx.tmp_dir
    java_opts = f"-Djava.io.tmpdir={ctx.tmp_dir} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    # Python workers import the engine and this directory's modules
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # bench.py's split sizing: >= 2 decode tasks per core at these sizes
        "spark.sql.files.maxPartitionBytes": "64m",
        "spark.sql.files.openCostInBytes": "1m",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": ctx.tmp_dir,
        "spark.sql.warehouse.dir": os.path.join(ctx.tmp_dir, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if ctx.tracer.enabled:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ctx.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return {"heap_mb": heap_mb, "conf": conf}


def start_session(ctx: Ctx, env: dict):
    from data_validator_spark.session import build_session

    ctx.tracer.bind(None)
    with ctx.tracer.span("session.start"):
        spark = build_session(app_name="perfbench", cores=ctx.cores, extra_conf=env["conf"])
    ctx.tracer.bind(spark)
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it
    and every other descendant to end."""
    import procmon
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass  # reap exited children of this process
        except ChildProcessError:
            pass
        rest = [p for p in procmon.tree_pids(live=True) if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def settle(spark) -> None:
    """Collect garbage in this process and the JVM before an op, untimed,
    so every op starts from a collected heap."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_ops(wl, ctx: Ctx, n_warm: int) -> list[dict]:
    """The cold op, then `n_warm` warm ops."""
    import procmon

    tr = ctx.tracer
    ops: list[dict] = []
    while len(ops) <= n_warm:
        wl.prepare()
        settle(wl.spark)
        tr.op = len(ops)
        rec = {"op": tr.op, "problems": []}
        cpu0, t0 = procmon.tree_cpu_s(), time.monotonic()
        try:
            with tr.span("op"):
                obs = wl.op(tr)
            rec["wall"] = time.monotonic() - t0
            rec["cpu"] = procmon.tree_cpu_s() - cpu0
            tr.op = -1
            rec["problems"] = wl.check(obs)
        except Exception:  # a failing op is a result, not a crash
            rec.setdefault("wall", time.monotonic() - t0)
            rec.setdefault("cpu", procmon.tree_cpu_s() - cpu0)
            rec["problems"].append(traceback.format_exc(limit=3))
        finally:
            tr.op = -1
            wl.cleanup()
        log(
            f"op {rec['op']}: {rec['wall']:.3f}s cpu {rec['cpu']:.1f}s"
            + (f" FAILED {rec['problems']}" if rec["problems"] else " ok")
        )
        ops.append(rec)
    return ops


def excursion(ex, spark, ctx: Ctx) -> None:
    """One checked op of a workload that is not gated, traced as op
    EXCURSION_OP, so that a traced run also reports its layers."""
    tr = ctx.tracer
    ex.generate()
    ex.open(spark)
    ex.prepare()
    settle(spark)
    tr.op = EXCURSION_OP
    try:
        with tr.span(f"excursion.{ex.name}"):
            obs = ex.op(tr)
        problems = ex.check(obs)
    finally:
        tr.op = -1
        ex.cleanup()
    if problems:
        raise RuntimeError(f"{ex.name} excursion op failed its check: {problems}")


def layer_metrics(wl, ctx: Ctx, ops: list[dict], extras: dict) -> dict:
    """Per-layer values: the median over warm ops of each layer span
    (or its excursion value for the wide-schema spans; 0 for a layer
    this workload does not run), and of the Spark counters under each
    op's span; then the traced extras."""
    import tracing

    tr = ctx.tracer
    warm = {o["op"] for o in ops[1:]}
    out = dict.fromkeys(PER_LAYER, 0.0)
    for name in PER_LAYER:
        if name.endswith("_s") and name.count(".") == 1:
            span = name[:-2]
            d = tr.durations(span, warm) or tr.durations(span, {EXCURSION_OP})
            if d:
                out[name] = statistics.median(d)
    roots = [s for s in tr.spans if s.name == "op" and s.op in warm]
    per_op = [tr.subtree_counters(s) for s in roots]
    for k in tracing.COUNTERS:
        out[f"spark.{k}"] = statistics.median(c[k] for c in per_op)
    out["spark.jvm_read_mb"] = statistics.median(s.jvm_read_mb for s in roots)
    out["spark.input_bytes_ratio"] = out["spark.jvm_read_mb"] * (1 << 20) / wl.input_bytes
    out.update(wl.read_ratios(out["spark.jvm_read_mb"]))
    out.update(extras)
    out["session.start_s"] = tr.durations("session.start")[0]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds", type=float, required=True,
        help="warm-op budget: runs round(seconds / the workload's nominal op time) warm ops",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke tests use < 1)")
    ap.add_argument(
        "--corrupt-output", action="store_true",
        help="perturb one observed count before each check (tests that checks fail)",
    )
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401

        import data_validator_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2

    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    tracer = tracing.Tracer(bool(args.trace))
    ctx = Ctx(args, cores, tracer)
    try:
        return measure(args, ctx, workloads.WORKLOADS[args.workload](ctx))
    finally:
        shutil.rmtree(ctx.work_dir, ignore_errors=True)


def measure(args, ctx: Ctx, wl) -> int:
    """One run of workload `wl`: input, set-up, ops, metrics, result line."""
    import inputs
    import procmon
    import workloads

    tracer = ctx.tracer
    env = pin_environment(ctx)
    host = {
        "nproc": os.cpu_count(),
        "usable_cores": len(os.sched_getaffinity(0)),
        "local_k": ctx.cores,
        "ram_gib": round(host_ram_bytes() / (1 << 30), 2),
        "heap_mb": env["heap_mb"],
        "loadavg_before": os.getloadavg(),
        "cpu_ticks_before": procmon.host_cpu_ticks(),
        "engine_sources": inputs._tree_hash([os.path.join(ROOT, "data_validator_spark")])[:16],
    }

    t_gen = time.monotonic()
    wl.generate()
    gen_s = time.monotonic() - t_gen
    fingerprint = inputs.data_fingerprint(wl.dir)
    if fingerprint != wl.meta["fingerprint"]:
        log(f"input {wl.dir} does not match its recorded fingerprint")
        return 1
    log(f"{wl.name}: input {wl.dir} ({wl.meta['rows']} rows, {wl.input_bytes} bytes, fingerprint {fingerprint[:16]}, made or found in {gen_s:.2f}s)")

    try:
        with procmon.PeakRss(interval_s=0.25) as rss:
            spark = start_session(ctx, env)
            wl.open(spark)
            setup_s = time.monotonic() - T_START - gen_s
            # a fixed op count, so every run times ops at the same
            # positions in the JVM's warm-up
            ops = run_ops(wl, ctx, max(MIN_WARM_OPS, round(args.seconds / wl.nominal_op_s)))
            extras = {}
            if tracer.enabled:
                t0 = time.monotonic()
                extras = wl.extras(tracer)
                excursion(workloads.WideProfile(ctx), spark, ctx)
                log(f"layer extras: {time.monotonic() - t0:.1f}s")
            spark.stop()
    finally:
        shutdown_jvm()
        host["loadavg_after"] = os.getloadavg()
        (ticks0, steal0), (ticks1, steal1) = host.pop("cpu_ticks_before"), procmon.host_cpu_ticks()
        host["cpu_steal_frac"] = (steal1 - steal0) / max(1, ticks1 - ticks0)

    warm = ops[1:]
    wall = statistics.median(o["wall"] for o in warm)
    failed = sum(1 for o in ops if o["problems"])
    e2e = {
        "rows_per_s": wl.rows_per_op / wall,
        "cpu_s_per_krow": statistics.median(o["cpu"] for o in warm) / (wl.rows_per_op / 1000),
        "setup_s": setup_s,
    }
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "input": {"dir": os.path.relpath(wl.dir, ROOT), "rows": wl.meta["rows"], "bytes": wl.input_bytes,
                  "fingerprint": fingerprint, "rows_per_op": wl.rows_per_op},
        "ops": [{k: o[k] for k in ("op", "wall", "cpu", "problems")} for o in ops],
        "cold_s": ops[0]["wall"],
        "end_to_end": e2e,
        "peak_rss_mb": rss.peak_mb,
        "py_peak_rss_mb": rss.peak_python_mb,
        "py_peak_procs": rss.peak_python_procs,
        "err_frac": failed / len(ops),
    }
    if tracer.enabled:
        tracer.attach_event_log(ctx.event_dir)
        metrics = layer_metrics(wl, ctx, ops, extras)
        metrics["cold_s"] = ops[0]["wall"]
        metrics["peak_rss_mb"] = rss.peak_mb
        metrics["py_peak_rss_mb"] = rss.peak_python_mb
        metrics["err_frac"] = failed / len(ops)
        metrics["ops.warm"] = float(len(warm))
        metrics["trace.rows_per_s"] = e2e["rows_per_s"]
        record["per_layer"] = metrics
        log("span tree of the last warm op (total, self, Spark counters of the subtree):")
        for line in tracer.tree_lines(ops[-1]["op"]):
            log("  " + line)
        record["trace_overhead"] = trace_overhead(ctx, wl.name, e2e["rows_per_s"])
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{wl.name}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}"
    with open(os.path.join(ctx.results_dir, name + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if tracer.enabled:
        tracer.dump(os.path.join(ctx.results_dir, name + ".spans.json"))

    log(f"host {host}")
    log(f"{wl.name}: {len(ops)} ops ({len(warm)} warm), {failed} failed")
    summary = [
        ("rows_per_s", e2e["rows_per_s"], len(warm)),
        ("cold_s", ops[0]["wall"], 1),
        ("cpu_s_per_krow", e2e["cpu_s_per_krow"], len(warm)),
        ("peak_rss_mb", rss.peak_mb, 1),
        ("setup_s", setup_s, 1),
        ("err_frac", failed / len(ops), len(ops)),
    ]
    for k, v, n in summary:
        log(f"  {k} = {v:.6g} {END_TO_END.get(k) or PER_LAYER[k]} (samples: {n})")
    if tracer.enabled:
        log("per-layer:")
        for k, v in metrics.items():
            log(f"  {k} = {v:.6g} {units[k]}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


def trace_overhead(ctx: Ctx, workload: str, traced_rows_per_s: float) -> dict:
    """Traced rows_per_s against the median of the untraced runs of
    this workload already recorded in the checkout (any seed: inputs
    differ only in their random draws). Logged either way, so a
    missing figure shows."""
    prefix = f"{workload}-s"
    base = []
    for n in sorted(os.listdir(ctx.results_dir)):
        if n.startswith(prefix) and "-t0-" in n and n.endswith(".json") and not n.endswith(".spans.json"):
            with open(os.path.join(ctx.results_dir, n)) as f:
                base.append(json.load(f)["end_to_end"]["rows_per_s"])
    if not base:
        reason = "no untraced run of this workload recorded in this checkout; run --trace 0 first"
        log(f"tracing overhead: not measured ({reason})")
        return {"slowdown": None, "reason": reason}
    ref = statistics.median(base)
    over = ref / traced_rows_per_s - 1
    log(f"tracing overhead: traced {traced_rows_per_s:.1f} rows/s vs untraced {ref:.1f} rows/s "
        f"(median of {len(base)} runs), {over:+.1%}")
    return {"slowdown": over, "untraced_rows_per_s": ref, "untraced_runs": len(base)}


if __name__ == "__main__":
    sys.exit(main())
