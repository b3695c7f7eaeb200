#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation, on local[nproc].

    python3 perfbench/run.py --workload assign_large --seed 1 --seconds 14 --trace 0

Runs from the root of a checkout. It generates the workload's inputs from the
seed, sets up (session start + input generation + boundary-dimension prep,
the latter two repeated three times), runs the workload's untimed warm-up
passes, then timed passes until ``--seconds`` of operation time have been
measured, and checks every pass's outputs outside the timed window. With
``--trace 1`` it then runs one pass with spans around the engine's layer
functions and the noop-sink prefix runs, and reports per-layer metrics
instead.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (name -> value, unit). The lines
before it print every metric, the workload's own ones included, by name and
unit. A full record (host probe, versions, cpus, spans) goes to
``.perfbench_runs/records/``. The exit code is 0 only if every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
PREP_REPS = 3
DRIVER_HEAP = "4g"
# bench.box_probe_sec reads ~0.4s on the 32-core host of BENCH/BASELINE.md
# and ~0.9-1.1s on a healthy 4-vCPU host; degraded windows read 4-33s
DEGRADED_PROBE_S = 2.5
# how long the gateway JVM and its Python workers get to exit on their own
STOP_WAIT_S = 60

# Gated end-to-end metrics, emitted by every workload with --trace 0.
E2E = {"setup_s": "s", "pass_s": "s"}
# Per-layer metrics, emitted by every workload with --trace 1.
LAYERS = {
    "synth.self_s": "s", "footprints.self_s": "s", "spatial_join.self_s": "s",
    "tiling.self_s": "s", "grouping.extents_s": "s", "spatial_join.dim_prep_s": "s",
    "layers.gap_s": "s", "trace.overhead_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.task_s": "s",
    "spark.driver_s": "s", "spark.shuffle_write_bytes": "B", "spark.input_bytes": "B",
    "python.crossings": "count",
}


def _isolate_env(work: str) -> None:
    """Keep every scratch file the JVMs, Spark and Python write inside the
    run's work directory. Runs before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    # every JVM, the spark-submit launcher too: no /tmp/hsperfdata, no /tmp files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the driver JVM only (read by the engine's session module at import): a
    # fixed heap size takes the collector's heap resizing out of the
    # run-to-run variance
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-Xms{DRIVER_HEAP}"


def _versions(spark) -> dict:
    git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": git.stdout.strip() if git.returncode == 0 else None,
    }


def _proc_stat(pid: int) -> list[str] | None:
    """The fields of /proc/<pid>/stat after the command name: [0] is the
    state, [1] the parent pid, [19] the start time."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _descendants(root: int) -> dict[int, str]:
    """pid -> start time of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    started: dict[int, str] = {}
    for d in os.listdir("/proc"):
        st = _proc_stat(int(d)) if d.isdigit() else None
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(d))
            started[int(d)] = st[19]
    out, todo = {}, [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out[c] = started[c]
            todo.append(c)
    return out


def _running(pid: int, started: str) -> bool:
    st = _proc_stat(pid)
    return st is not None and st[19] == started and st[0] not in ("Z", "X")


def _wait_gone(procs: dict[int, str], seconds: float) -> dict[int, str]:
    """Wait up to ``seconds`` for ``procs`` to end; returns those still running."""
    deadline = time.monotonic() + seconds
    while True:
        procs = {p: t for p, t in procs.items() if _running(p, t)}
        if not procs or time.monotonic() > deadline:
            return procs
        time.sleep(0.05)


def stop_session(spark) -> None:
    """Stop the Spark session, then the gateway JVM it runs in and every
    process started below this one (the JVM's Python workers), and wait
    until each has ended. The JVM would otherwise outlive this process by a
    second or more: it only exits once it sees its stdin close."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = _descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.poll() is None:
            try:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                proc.wait(timeout=STOP_WAIT_S)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        left = _wait_gone(started, STOP_WAIT_S)
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in left:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            left = _wait_gone(left, 10)
            if not left:
                break


class Bench:
    def __init__(self, spark, wl, run_id: str):
        self.spark, self.wl, self.run_id = spark, wl, run_id
        self.attempted = 0
        self.failed: set = set()
        self.windows: dict = {}  # (pass, op) -> (start, end) in time.time()

    def _fail(self, key, msg: str) -> None:
        self.failed.add(key)
        print(f"CHECK FAILED {key}: {msg}", file=sys.stderr)

    def run_pass(self, k: int, tracer=None) -> dict:
        """One pass of timed ops; checks run after the last op."""
        sc = self.spark.sparkContext
        walls, outs = {}, {}
        for name, fn in self.wl.ops(k):
            sc.setJobGroup(f"{self.run_id}:{k}:{name}", name)
            self.attempted += 1
            t0, w0 = time.perf_counter(), time.time()
            try:
                if tracer is None:
                    outs[name] = fn()
                else:
                    with tracer.span(f"op.{name}"):
                        outs[name] = fn()
            except Exception:  # one failed op must not end the run: count it
                traceback.print_exc()
                self._fail((k, name), "raised")
            walls[name] = time.perf_counter() - t0
            self.windows[(k, name)] = (w0, time.time())
            if name in outs:
                self.wl.after_op(k, name, outs[name])
        sc.setJobGroup(f"{self.run_id}:{k}:check", "check")
        if len(outs) == len(walls):
            for op, msg in self.wl.check(k, outs):
                self._fail((k, op), msg)
        return walls


def measure(args, spark, session_s: float, work: str, run_id: str) -> tuple[dict, dict, dict]:
    import layers
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](spark, work, args.seed, small=args.small)
    bench = Bench(spark, wl, run_id)
    record: dict = {}

    # set-up, repeated: input generation + boundary-dimension prep
    prep, dim_prep, manifests = [], [], []
    for r in range(PREP_REPS):
        d = os.path.join(work, f"inputs_{r}")
        t0 = time.perf_counter()
        manifests.append(wl.prepare(d))
        prep.append(time.perf_counter() - t0)
        dim_prep.append(wl.dim_prep_s)
        if r:
            shutil.rmtree(os.path.join(work, f"inputs_{r - 1}"))
    if any(m != manifests[0] for m in manifests):
        bench._fail(("setup", "inputs"), "the same seed generated different inputs")
    record["inputs"] = manifests[0]
    setup_s = session_s + statistics.median(prep)

    t0 = time.perf_counter()
    n_ops, fails = wl.warmup()
    bench.attempted += n_ops
    for op, msg in fails:
        bench._fail(("warmup", op), msg)
    warmup_s = time.perf_counter() - t0

    walls, measured, k = [], 0.0, 0
    while k < wl.min_passes or measured < args.seconds:
        if layers.installed_wrappers():
            bench._fail((k, "trace"), "tracing wrapper installed during a timed pass")
        w = bench.run_pass(k)
        walls.append(w)
        measured += sum(w.values())
        k += 1
    pass_walls = [sum(w.values()) for w in walls]
    pass_s = statistics.median(pass_walls)

    e2e = {
        "setup_s": setup_s,
        "pass_s": pass_s,
    }
    extra = {name: val for name, (val, _) in wl.summary(walls).items()}
    units = {name: unit for name, (_, unit) in wl.summary(walls).items()}
    # Reported, not gated: with a fixed heap the driver JVM's high-water RSS
    # is mostly the collector's use of that heap
    extra.update(peak_rss_mb=layers.jvm_peak_rss_mb(spark), session_s=session_s,
                 prep_s=statistics.median(prep), warmup_s=warmup_s, passes=len(walls))
    units.update(peak_rss_mb="MB", session_s="s", prep_s="s", warmup_s="s", passes="count")
    record.update(pass_walls=pass_walls, op_walls=walls)

    per_layer: dict = {}
    if args.trace:
        per_layer = trace(bench, wl, run_id, pass_s, statistics.median(dim_prep), record)

    extra["failed_frac"] = len(bench.failed) / max(1, bench.attempted)
    units["failed_frac"] = "ratio"
    record.update(attempted=bench.attempted, failed=len(bench.failed),
                  failures=sorted(map(str, bench.failed)))
    return ({"e2e": e2e, "extra": extra, "units": units, "layers": per_layer},
            record, {"attempted": bench.attempted, "failed": len(bench.failed)})


def trace(bench: Bench, wl, run_id: str, pass_s: float, dim_prep_s: float, record: dict) -> dict:
    """A reference pass, one traced pass, then the noop-sink prefix runs of
    the image layers; returns the per-layer metrics."""
    import layers

    spark = bench.spark
    # the untraced reference pass runs right before the traced one, so both
    # are equally warm (catalog_build's timed pass is cold)
    ref_wall = sum(bench.run_pass(-3).values())
    tracer = layers.Tracer(run_id)
    tracer.install()
    try:
        with tracer.span("pass") as root:
            w = bench.run_pass(-2, tracer)
    finally:
        tracer.uninstall()
    traced_wall = root["end"] - root["start"]
    spans_self = tracer.self_times()

    groups = {op: f"{run_id}:-2:{op}" for op in w}
    sm = {op: layers.spark_group_metrics(spark, g, *bench.windows[(-2, op)])
          for op, g in groups.items()}
    total = {key: sum(m[key] for m in sm.values()) for key in next(iter(sm.values()))}
    prefix = {}
    sc = spark.sparkContext
    for name, fn in wl.prefixes():
        sc.setJobGroup(f"{run_id}:prefix:{name}", name)
        t0 = time.perf_counter()
        fn()
        prefix[name] = time.perf_counter() - t0
    lay = {
        "synth.self_s": prefix["synth"],
        "footprints.self_s": prefix["footprints"] - prefix["synth"],
        "spatial_join.self_s": prefix["spatial_join"] - prefix["footprints"],
        "tiling.self_s": prefix["tiling"] - prefix["spatial_join"],
        "grouping.extents_s": prefix["grouping.extents"],
        "spatial_join.dim_prep_s": dim_prep_s,
        "trace.overhead_s": traced_wall - ref_wall,
        "spark.jobs": total["jobs"], "spark.stages": total["stages"],
        "spark.task_s": total["task_s"], "spark.driver_s": total["driver_s"],
        "spark.shuffle_write_bytes": total["shuffle_write_bytes"],
        "spark.input_bytes": total["input_bytes"],
        "python.crossings": total["python_crossings"],
    }
    if wl.name == "assign_large":
        # the pass is all lazy layers: the prefix walls tile its wall
        lay["layers.gap_s"] = pass_s - (prefix["tiling"] + prefix["grouping.extents"])
    else:
        # the part of the traced pass no op span covers
        lay["layers.gap_s"] = traced_wall - sum(
            s["end"] - s["start"] for s in tracer.spans if s["name"].startswith("op."))

    # workload-specific layer metrics: written to the trace record and printed
    specific: dict = {"spark.spill_bytes": (total["spill_bytes"], "B")}
    for name, secs in spans_self.items():
        if name != "pass" and not name.startswith("op."):
            specific[f"span.{name}.self_s"] = (secs, "s")
    if wl.name == "catalog_build":
        specific["catalog.write_items_s"] = (spans_self.get("catalog.write_items_partitioned", 0.0), "s")
        specific["checkpoint.write_stage_s"] = (spans_self.get("checkpoint.write_stage", 0.0), "s")
        specific["shards.write_s"] = (w["shards"], "s")
        specific.update(wl.layer_counts)
    if wl.name == "query_mix":
        for q in wl.order:
            specific[f"q.{q}.wall_s"] = (w[q], "s")
            specific[f"q.{q}.jobs"] = (sm[q]["jobs"], "count")
    record["traced"] = {"run_id": run_id, "traced_wall_s": traced_wall, "spans": tracer.spans,
                       "spark_by_op": sm, "prefix_walls": prefix, "specific": specific}
    return lay


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["assign_large", "catalog_build", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true", help="self-test scale: tiny inputs")
    ap.add_argument("--record-expected", action="store_true",
                    help="query_mix: write the expected result digests and exit")
    args = ap.parse_args(argv)

    cpus = os.cpu_count() or 1
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}"
    work = os.path.join(RUNS_DIR, "work", run_id)
    _isolate_env(work)
    sys.path[:0] = [ROOT, HERE]
    try:
        import bench  # the repository's host-health probe
        from stac_catalog_builder_spark.session import get_spark
        import workloads  # noqa: F401  (imports the engine)
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    phases = {"imported": time.perf_counter() - T_START}
    probe_before = bench.box_probe_sec()
    phases["probed"] = time.perf_counter() - T_START
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app="perfbench", master=f"local[{cpus}]", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        if args.record_expected:
            return record_expected(spark, work)
        metrics, record, counts = measure(args, spark, session_s, work, run_id)
        spark_cpus = spark.sparkContext.defaultParallelism
        versions = _versions(spark)
        phases["measured"] = time.perf_counter() - T_START
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["stopped"] = time.perf_counter() - T_START
    probe_after = bench.box_probe_sec()
    phases["probed_after"] = time.perf_counter() - T_START

    record.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        cpus=cpus, spark_cpus=spark_cpus, probe_before_s=probe_before,
        probe_after_s=probe_after,
        degraded_host=max(probe_before, probe_after) > DEGRADED_PROBE_S, phases=phases,
        **versions, metrics=metrics,
    )
    os.makedirs(os.path.join(RUNS_DIR, "records"), exist_ok=True)
    with open(os.path.join(RUNS_DIR, "records", f"{run_id}.json"), "w") as f:
        json.dump(record, f, default=str)

    gated = metrics["layers"] if args.trace else metrics["e2e"]
    units = LAYERS if args.trace else E2E
    for name, val in metrics["e2e"].items():
        print(f"metric {name} {val:.6g} {E2E[name]}")
    for name, val in metrics["extra"].items():
        print(f"metric {name} {val:.6g} {metrics['units'][name]}")
    if args.trace:
        for name, val in metrics["layers"].items():
            print(f"layer {name} {val:.6g} {LAYERS[name]}")
        for name, (val, unit) in record["traced"]["specific"].items():
            print(f"layer {name} {val:.6g} {unit}")
    print(f"host cpus={cpus} probe_before={probe_before}s probe_after={probe_after}s "
          f"degraded={record['degraded_host']}")
    correct = counts["failed"] == 0 and cpus == spark_cpus
    print(json.dumps({
        "correct": correct, "attempted": counts["attempted"], "failed": counts["failed"],
        "metrics": {n: {"value": gated[n], "unit": units[n]} for n in units},
    }))
    return 0 if correct else 1


def record_expected(spark, work: str) -> int:
    """Write the query-mix result digests (checked against DuckDB first)."""
    from workloads import EXPECTED_PATH, QueryMix, result_digest

    wl = QueryMix(spark, work, seed=0)
    wl.prepare(os.path.join(work, "inputs"))
    results = {q: wl.queries[q](spark, wl.dir).toArrow() for q in wl.order}
    fails = wl.check_results(results, None)
    if fails:
        print(f"oracle mismatch, nothing written: {fails}", file=sys.stderr)
        return 1
    with open(EXPECTED_PATH, "w") as f:
        json.dump({q: result_digest(results[q]) for q in sorted(results)}, f, indent=1)
        f.write("\n")
    print(f"wrote {EXPECTED_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
