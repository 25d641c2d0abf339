"""Traced run report: per-layer numbers per workload and per op, and the
tracing overhead.

    python3 perfbench/trace_report.py [--seed 7] [--seconds 8]

For each workload, runs the benchmark untraced and traced with the same
seed, ``--pairs`` times, alternating which runs first. Keeps the
per-layer workload summary and a per-key breakdown of the first traced
run, and the overhead: the traced median ÷ the untraced median of
``op_cpu_p50_s`` and ``cpu_s_per_op`` over the pairs. A last traced run times ``q_stream_left_join`` and
``q_stream_full_join`` alone, to split their time into stream start-up,
planning, state and batch work. Writes ``perfbench/results/traced_run.json``.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def bench(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=build.ROOT, check=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    recs = run.read_records(os.path.join(build.BUILD, "last-%s-trace%d.jsonl" % (workload, trace)))
    return result, lines[:-1], recs


def joins(seed):
    """A traced run of the two stream joins alone, with one set-up: at
    10 s per op they do not fit the benchmark's per-run deadline."""
    cp = build.build()
    tmp = os.path.join(build.BUILD, "joins-tmp")
    recs_path = os.path.join(build.BUILD, "joins.jsonl")
    run.harness(cp, "run", [
        "--workload", "query_mix", "--seed", str(seed), "--seconds", "1", "--trace", "1",
        "--cores", str(run.cores()), "--tmp", tmp, "--out", recs_path,
        "--data", run.data_dir(cp, time.time() + 600),
        "--expected", os.path.join(run.HERE, "expected", "query_mix.json"),
        "--keys", "q_stream_left_join,q_stream_full_join"],
        os.path.join(build.BUILD, "joins.log"), tmp, time.time() + 900)
    shutil.rmtree(tmp, ignore_errors=True)
    return [r for r in run.read_records(recs_path) if r["kind"] == "op" and r["ok"]]


def per_key(ops, cores):
    out = {}
    for key in sorted({op["key"] for op in ops}):
        mine = [op for op in ops if op["key"] == key]
        m = stats.layer_summary(mine, cores, {})
        wall = sum(op["s"] for op in mine) / len(mine)
        task = m.get("sched.task_run_s", 0.0)
        row = {"n": len(mine), "wall_s": wall,
               "cpu_s": sum(op["cpu_s"] for op in mine) / len(mine)}
        for k in ("entry.build_s", "entry.plan_s", "entry.exec_s", "catalyst.analysis_ms",
                  "catalyst.optimization_ms", "catalyst.planning_ms", "sched.jobs",
                  "sched.tasks", "sched.task_run_s", "sched.busy_share", "scan.bytes",
                  "exchange.write_bytes", "stream.batches", "stream.startup_s",
                  "stream.trigger_ms", "stream.plan_ms", "stream.add_batch_ms",
                  "stream.wal_commit_ms", "stream.commit_offsets_ms",
                  "stream.latest_offset_ms", "stream.get_batch_ms", "state.commit_ms",
                  "state.rows"):
            if m.get(k):
                row[k] = round(m[k], 4)
        # the data share is bounded below by task time spread over all
        # cores; the rest of the op's wall time is fixed cost
        row["data_share_min"] = round(min(1.0, task / cores / wall), 3) if wall else 0.0
        out[key] = row
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--pairs", type=int, default=3)
    a = ap.parse_args()
    report = {"seed": a.seed, "seconds": a.seconds, "cores": run.cores(), "workloads": {}}
    for w in run.WORKLOADS:
        plains, traceds = [], []
        for i in range(a.pairs):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                (traceds if trace else plains).append(bench(w, a.seed, a.seconds, trace))
        untraced = [{k: v["value"] for k, v in r["metrics"].items()} for r, _, _ in plains]
        layers = [{k: v["value"] for k, v in r["metrics"].items()} for r, _, _ in traceds]
        _, notes, recs = traceds[0]
        ops = [r for r in recs if r["kind"] == "op" and r["ok"]]
        overhead = {}
        for m in ("op_cpu_p50_s", "cpu_s_per_op"):
            t = statistics.median(lay["trace." + m] for lay in layers)
            u = statistics.median(e2e[m] for e2e in untraced)
            overhead[m] = [t, u, t / u]
        report["workloads"][w] = {
            "untraced": untraced, "traced_layers": layers[0], "notes": notes,
            "runs_notes": [n for _, n, _ in plains + traceds],
            "overhead": overhead, "per_key": per_key(ops, run.cores()),
        }
        print(w, json.dumps(report["workloads"][w]["overhead"]))
    report["stream_joins"] = per_key(joins(a.seed), run.cores())
    path = os.path.join(run.HERE, "results", "traced_run.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("wrote", os.path.relpath(path, build.ROOT))


if __name__ == "__main__":
    main()
