#!/usr/bin/env python3
"""Self-test of the benchmark at self-test scale (a few thousand images).

    python3 perfbench/selftest.py

Checks, from the root of a checkout:
1. every workload's run prints every BENCHMARK.json metric with its unit,
   traced and untraced, and exits 0;
2. the output checks pass on real outputs and catch deliberately corrupted
   ones (assignment counts, catalog bytes/lineage/shards, query digests and
   the DuckDB oracle);
3. the traced record has parent links and one shared run id, and no tracing
   wrapper stays installed after a traced pass;
4. no process a run started (its JVM, the JVM's Python workers) is still
   running when the run has exited;
5. in a directory holding only BENCHMARK.json and the benchmark's files, the
   command exits non-zero without printing a result.
Exits 0 when all pass.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench_runs", "selftest")
failures: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def run_cli(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--small"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def leftover_processes() -> list[int]:
    """Pids of running processes started by a benchmark run of this checkout:
    every such process inherits a TMPDIR under its run's work directory."""
    mark = os.path.join(ROOT, ".perfbench_runs", "work").encode()
    pids = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                env = f.read()
            with open(f"/proc/{d}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except (OSError, IndexError):
            continue
        if mark in env and state not in ("Z", "X"):
            pids.append(int(d))
    return pids


def check_cli(spec: dict) -> None:
    # query_mix is not in BENCHMARK.json (see README) but stays runnable
    for workload in [w["name"] for w in spec["workloads"]] + ["query_mix"]:
        for trace in (0, 1) if workload == "assign_large" else (1,):
            p = run_cli(workload, trace)
            tag = f"{workload} --trace {trace}"
            left = leftover_processes()
            expect(left == [], f"{tag}: no process left running after exit ({left})")
            expect(p.returncode == 0, f"{tag}: exit 0 (stderr tail: {p.stderr[-300:]!r})")
            if p.returncode:
                continue
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            expect(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys")
            expect(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                   f"{tag}: correct, nothing failed")
            want = spec["per_layer" if trace else "end_to_end"]
            got = result["metrics"]
            expect(set(got) == {m["name"] for m in want}, f"{tag}: every metric present")
            expect(all(got[m["name"]]["unit"] == m["unit"] for m in want if m["name"] in got),
                   f"{tag}: every unit matches")
            printed = {ln.split()[1]: ln.split()[3] for ln in lines[:-1]
                       if ln.startswith(("metric ", "layer ")) and len(ln.split()) == 4}
            expect(all(printed.get(m["name"]) == m["unit"] for m in spec["end_to_end"]),
                   f"{tag}: end-to-end metrics printed by name and unit")
            if trace:
                check_trace_record(workload)


def check_trace_record(workload: str) -> None:
    recs = sorted(glob.glob(os.path.join(ROOT, ".perfbench_runs", "records",
                                         f"{workload}-s5-t1-*.json")), key=os.path.getmtime)
    rec = json.load(open(recs[-1]))
    spans = rec["traced"]["spans"]
    ids = {s["id"] for s in spans}
    expect(len(spans) > 1 and all(s["parent"] in ids for s in spans if s["parent"] is not None)
           and any(s["parent"] is not None for s in spans), f"{workload}: spans carry parent links")
    expect(len({s["run_id"] for s in spans}) == 1 and spans[0]["run_id"] == rec["traced"]["run_id"],
           f"{workload}: spans share one run id")
    expect(all(s["end"] >= s["start"] for s in spans), f"{workload}: spans closed")
    expect(rec["cpus"] == os.cpu_count() and rec["failures"] == [],
           f"{workload}: record has cpus == nproc and no failures")


def check_corruption() -> None:
    """Run each workload's checks in-process on good and corrupted outputs."""
    sys.path[:0] = [ROOT, HERE]
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import layers
    import workloads as W
    from run import stop_session
    from stac_catalog_builder_spark.session import get_spark

    os.makedirs(SCRATCH, exist_ok=True)
    spark = get_spark(app="perfbench-selftest", master="local[2]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        a = W.AssignLarge(spark, SCRATCH, seed=5, small=True)
        a.n_images = 4200
        expect(a.check(0, {"assign": 4200, "extents": 4200}) == [], "assign: good counts pass")
        expect(len(a.check(0, {"assign": 4199, "extents": 4200})) == 1, "assign: a lost row is caught")

        c = W.CatalogBuild(spark, SCRATCH, seed=5, small=True)
        c.prepare(os.path.join(SCRATCH, "cat_inputs"))
        outs = {}
        for name, fn in c.ops(0):
            outs[name] = fn()
            c.after_op(0, name, outs[name])
        expect(c.check(0, outs) == [], "catalog: real outputs pass")
        out = c._out(0)
        item = sorted(glob.glob(f"{out}/items/**/*.json", recursive=True))[-1]
        with open(item, "a") as f:
            f.write("{}\n")
        msgs = [m for _, m in c.check(0, outs)]
        expect(any("after the resume" in m for m in msgs) and any("first pass" in m for m in msgs),
               "catalog: changed item bytes caught")
        shutil.rmtree(sorted(glob.glob(f"{out}/assignments/_lineage/part_key=*"))[0])
        expect(any("lineage" in m for _, m in c.check(0, outs)), "catalog: missing lineage caught")
        bad = dict(outs, shards=[{"n_members": 1}])
        expect(any(op == "shards" for op, _ in c.check(0, bad)), "catalog: shard count caught")

        q = W.QueryMix(spark, SCRATCH, seed=5, small=True)
        q.prepare(os.path.join(SCRATCH, "q_inputs"))
        results = {n: q.queries[n](spark, q.dir).toArrow() for n in q.order}
        good = {n: W.result_digest(t) for n, t in results.items()}
        expect(q.check_results(results, good) == [], "query_mix: real results pass digest + oracle")
        shuffled = {n: t.take(list(reversed(range(t.num_rows)))) for n, t in results.items()}
        expect(q.check_results(shuffled, good) == [], "query_mix: digest ignores row order")
        victim = next(n for n in q.order if n in __import__("__spark_entry__").oracle_sql())
        broken = dict(results, **{victim: results[victim].slice(1)})
        msgs = [m for n, m in q.check_results(broken, good) if n == victim]
        expect(any("digest" in m for m in msgs) and any("oracle" in m for m in msgs),
               f"query_mix: a dropped {victim} row fails digest and oracle")
        expect(len(q.check(0, {victim: -1})) == 1, "query_mix: a wrong row count is caught")

        tr = layers.Tracer("t")
        tr.install()
        expect(bool(layers.installed_wrappers()), "trace: wrappers install")
        tr.uninstall()
        expect(layers.installed_wrappers() == [], "trace: wrappers removed after a traced pass")
    finally:
        stop_session(spark)
        shutil.rmtree(SCRATCH, ignore_errors=True)


def check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".perfbench_runs", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_cli("assign_large", 0, cwd=bare)
    last = (p.stdout.strip().splitlines() or [""])[-1]
    expect(p.returncode != 0 and not last.startswith("{"),
           "bare directory: exits non-zero without a result")
    shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_bare_directory()
    check_corruption()
    check_cli(spec)
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
