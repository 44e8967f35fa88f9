"""Job-level KG-construction benchmark for deepkg_spark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

Workloads (BENCHMARK.json says why each exists): kg_build and curate. One
process is one closed-loop client: it starts one SparkSession on
local[<cores>], generates the workload's inputs from --seed, computes the
expected output digests with DuckDB, then runs the workload one job at a
time and checks every run's output. The first run is cold; warm runs
follow until --seconds have passed, at least one.

--trace 0 reports the end-to-end metrics:
  setup_s       the set-up: JVM launch and session start, input generation
                and oracle digests, as a one-shot spark-submit pays it
  wall_s        median wall time of the warm runs
  rows_per_s    workload input rows / wall_s
  cpu_s         median CPU seconds of a warm run: driver, JVM (without its
                JIT compiler threads) and Python workers (/proc)
  peak_rss_mb   sum of the peak resident sets of the JVM and Python workers
setup_s and each warm run's wall time are scaled by 1 - the steal share of
their interval (the share of the host's busy CPU time the hypervisor gave
to other guests): on a shared virtual host, steal bursts stretch a run by
up to a third and are not the program's doing. Raw times and steal shares
are printed. It also prints first_call_s, the cold first run (codegen,
JIT, index builds, first persists: what one spark-submit pays), which is
one sample per process and so has no bound.
--trace 1 traces the first run and every other warm run, and reports
first_call_s, the per-layer metrics (<layer>.<metric>) plus the tracing
overhead (median over the traced warm runs of their wall time minus the
mean of the untraced runs on either side).

Failed runs (an exception, or an output that does not match its digest)
count in the result's "failed" out of "attempted"; failed_ratio is
failed / attempted. The last line of stdout is the JSON result; the lines
before it list every metric with its unit and sample count, and each run's
host context (1-min loadavg and /proc/stat steal share before and after).
Spans, samples and input properties go to
.perfbench_work/<workload>-seed<seed>-trace<0|1>.json. Everything the
benchmark writes stays under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
DRIVER_MEM = "2g"


def _environment(cores: int) -> None:
    """Keep every file Spark, the JVM and Python write under WORK; size the
    session to this host's cores."""
    tmp, local = WORK / "tmp", WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    # compiler threads that never exit, so host.tree_cpu_s can leave JIT
    # time out of cpu_s
    java_opts = shlex.quote(
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads")
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_GRAFT_CPUS": str(cores),
        "DEEPKG_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--driver-memory {DRIVER_MEM}",
            f"--driver-java-options {java_opts}",
            "--conf spark.ui.showConsoleProgress=false",
            # the status stores must keep every job of a traced invocation
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            f"--conf spark.sql.warehouse.dir={shlex.quote(str(WORK / 'warehouse'))}",
            "pyspark-shell",
        ]),
    })


def _start_spark(cores: int):
    from deepkg_spark import session

    # get_spark puts shuffle files on /dev/shm when it exists; the
    # benchmark writes nothing outside its checkout, so they go to
    # SPARK_LOCAL_DIRS under WORK instead
    session._LOCAL_DIR = None
    return session.get_spark(app_name="perfbench", master=f"local[{cores}]",
                             shuffle_partitions=cores)


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    from perfbench import host

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=30)
    host.stop_descendants()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def _one_run(wl, spark, con, tr, run_id: int) -> dict:
    from perfbench import host, trace, workloads

    out = wl.work / "out" / f"run_{run_id}"
    tr.begin_run(run_id)
    ctx0, cpu0 = host.context(), host.tree_cpu_s()
    t0 = time.perf_counter()
    error, result = None, {}
    try:
        result = wl.run(spark, tr, out)
    except Exception:  # a failed run is counted, not fatal
        error = traceback.format_exc(limit=3)
    wall = time.perf_counter() - t0
    cpu = host.tree_cpu_s() - cpu0
    ctx1 = host.context()
    ok = False
    if error is None:
        try:
            ok = wl.check(con, result, out)
        except Exception:
            error = traceback.format_exc(limit=3)
    sample = {
        "run": run_id, "traced": tr.enabled, "wall_s": wall, "cpu_s": cpu, "ok": ok,
        "error": error, "loadavg1_before": ctx0["loadavg1"],
        "loadavg1_after": ctx1["loadavg1"], "steal_share": host.steal_share(ctx0, ctx1),
        "peak_rss_mb": host.tree_peak_rss_mb(),
    }
    if tr.enabled and error is None:
        tr.drain()
        execs = tr.executions()
        extras = wl.layer_extras(tr, result, execs)
        layers = tr.layer_counters(execs)
        for layer, times in trace.layer_times(tr.spans, run_id).items():
            layers[layer].update(times)
        sample["layers"] = layers
        sample["extras"] = extras
        sample["linking_batch_s"] = result.get("linking_batch_s")
        if "checkpoint" in {s["layer"] for s in tr.spans if s["run"] == run_id}:
            extras["checkpoint.bytes_written"] = sum(
                f.stat().st_size for f in out.rglob("*") if f.is_file())
    wl.after_run(spark)
    workloads.remove(out)
    return sample


def _overhead(samples: list[dict]) -> list[float]:
    """Per traced warm run: its wall time minus the mean of the untraced
    runs on either side, which cancels a linear warm-up drift of the JVM."""
    out = []
    for k in range(2, len(samples) - 1, 2):
        before, s, after = samples[k - 1:k + 2]
        if before["ok"] and s["ok"] and after["ok"]:
            out.append(s["wall_s"] - (before["wall_s"] + after["wall_s"]) / 2)
    return out


def _layer_metrics(samples: list[dict]) -> dict:
    from perfbench import trace, workloads

    cold = samples[0]
    warm = [s for s in samples[1:] if s["traced"] and s["ok"]]
    untraced = [s["wall_s"] for s in samples[1:] if not s["traced"] and s["ok"]]
    m: dict[str, tuple[float, str, int]] = {"first_call_s": (cold["wall_s"], "s", 1)}
    for layer in trace.LAYERS:
        for metric, unit in trace.LAYER_METRICS:
            if (layer, metric) in trace.NO_PHASE:
                continue
            vals = [s["layers"][layer][metric] for s in warm]
            m[f"{layer}.{metric}"] = (_median(vals), unit, len(vals))
    # the first batch of the cold run builds the BM25 index; every batch of
    # a warm run reuses it
    first = (cold.get("linking_batch_s") or [])[:1]
    later = [b for s in warm for b in s.get("linking_batch_s") or []]
    m["linking.first_batch_s"] = (_median(first), "s", len(first))
    m["linking.warm_batch_s"] = (_median(later), "s", len(later))
    for k, unit in workloads.EXTRA_METRICS.items():
        vals = [s["extras"][k] for s in warm if k in s["extras"]]
        m[k] = (_median(vals), unit, len(vals))
    diffs = _overhead(samples)
    over = _median(diffs)
    m["trace.overhead_s"] = (over, "s", len(diffs))
    m["trace.overhead_ratio"] = (over / _median(untraced) if untraced else 0.0, "ratio",
                                 len(diffs))
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    _environment(cores)
    sys.path.insert(0, str(ROOT))
    try:
        import duckdb

        import deepkg_spark.session  # noqa: F401
        from perfbench import host, trace, workloads
    except ImportError as e:
        print(f"perfbench: the program under test is not importable: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    wdir = WORK / f"{args.workload}-seed{args.seed}"
    workloads.remove(wdir)
    wl = workloads.WORKLOADS[args.workload](wdir)
    con = duckdb.connect()
    spark = None
    try:
        # one set-up per process: a second one would either reuse the
        # running JVM, which hides the launch, or launch another, which adds
        # 6-10 s (4 cores) to an invocation that must stay near a minute
        ctx0, t0 = host.context(), time.perf_counter()
        spark = _start_spark(cores)
        wl.setup(args.seed, con)
        setup_raw = time.perf_counter() - t0
        setup_steal = host.steal_share(ctx0, host.context())
        wl.prepare(spark)
        tr = trace.Tracer(spark, args.workload) if args.trace else trace.NullTracer()
        untraced_tr = trace.NullTracer()

        samples = [_one_run(wl, spark, con, tr, 0)]
        # closed loop: one run at a time while the window lasts, with at
        # least one warm run. A traced invocation traces every other warm
        # run and ends on an untraced one (at least three warm runs), so
        # each traced run has an untraced run on either side
        deadline = time.perf_counter() + args.seconds
        while True:
            n = len(samples)
            enough = (n >= 4 and n % 2 == 0) if args.trace else n >= 2
            if enough and time.perf_counter() >= deadline:
                break
            use = tr if args.trace and len(samples) % 2 == 0 else untraced_tr
            samples.append(_one_run(wl, spark, con, use, len(samples)))
    finally:
        if spark is not None:
            _stop_spark(spark)
        con.close()
        workloads.remove(wdir)

    attempted = len(samples)
    failed = sum(not s["ok"] for s in samples)
    if args.trace:
        metrics = _layer_metrics(samples)
    else:
        warm_plain = [s for s in samples[1:] if s["ok"]]
        if not warm_plain or not samples[0]["ok"]:
            print("perfbench: no successful warm run to report", file=sys.stderr)
            for s in samples:
                if s["error"]:
                    print(s["error"], file=sys.stderr)
            return 1
        wall = [s["wall_s"] * (1.0 - s["steal_share"]) for s in warm_plain]
        cpu = [s["cpu_s"] for s in warm_plain]
        metrics = {
            "setup_s": (setup_raw * (1.0 - setup_steal), "s", 1),
            "wall_s": (_median(wall), "s", len(wall)),
            "rows_per_s": (wl.rows / _median(wall), "rows/s", len(wall)),
            "cpu_s": (_median(cpu), "s", len(cpu)),
            "peak_rss_mb": (max(s["peak_rss_mb"] for s in samples), "MB", len(samples)),
        }

    WORK.mkdir(parents=True, exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": cores,
        "input_props": wl.props, "setup_s": setup_raw, "setup_steal_share": setup_steal,
        "samples": samples,
        "spans": getattr(tr, "spans", []),
    }
    (WORK / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))

    print(f"workload {args.workload} seed {args.seed} cores {cores} input {json.dumps(wl.props)}")
    print(f"setup wall {setup_raw:8.3f} s steal {setup_steal:.3f}")
    for s in samples:
        print(f"run {s['run']:3d} {'traced' if s['traced'] else 'plain ':6s} "
              f"wall {s['wall_s']:8.3f} s cpu {s['cpu_s']:8.3f} s ok {s['ok']!s:5s} "
              f"loadavg1 {s['loadavg1_before']:.2f}->{s['loadavg1_after']:.2f} "
              f"steal {s['steal_share']:.3f}")
        if s["error"]:
            print("  " + s["error"].strip().replace("\n", "\n  "))
    if not args.trace:
        q1, q3 = _quartiles(wall)
        print(f"wall_s quartiles {q1:.4f} .. {q3:.4f} over {len(wall)} warm runs")
        # one cold sample per process is too noisy to bound; the traced
        # invocation reports it among the per-layer metrics
        print(f"metric first_call_s = {samples[0]['wall_s']:.6g} s (samples: 1, unbounded)")
    print(f"failed_ratio {failed / attempted:.4f} ({failed} of {attempted} runs)")
    for name, (value, unit, n) in metrics.items():
        print(f"metric {name} = {value:.6g} {unit} (samples: {n})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
