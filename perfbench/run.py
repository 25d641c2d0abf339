"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (``build.py``), generates
the input tables once per checkout, then starts a fresh JVM with an
empty ``java.io.tmpdir`` for the run, so the engine's on-disk caches are
rebuilt during set-up every time. The JVM sets up once (a session and
one untimed pass over the op set), runs the seeded closed loop for
``--seconds``, and checks the results afterwards. Times are the JVM's
CPU seconds, which the host's other load moves far less than wall time;
the wall times are printed on the line above the result. The
last line of output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).

Workloads: ``query_mix`` and ``daily_ticks`` (see ``perfbench/NOTES.md``).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("query_mix", "daily_ticks")
QUERY_SF = 0.02     # scale factor of the generated tables
DATA_SEED = 42      # the tables are fixed; the run seed orders the ops
DEADLINE_S = 170    # per run, after the one-off build and table generation
BUILD_DEADLINE_S = 800


def cores():
    return len(os.sched_getaffinity(0))


def data_dir(cp, t_end):
    """Generate the input tables once per checkout."""
    d = os.path.join(build.BUILD, "data", "sf%s-seed%d" % (QUERY_SF, DATA_SEED))
    if not os.path.exists(os.path.join(d, ".ok")):
        shutil.rmtree(d, ignore_errors=True)
        tmp = os.path.join(build.BUILD, "gen-tmp")
        harness(cp, "gen", ["--data", d, "--sf", str(QUERY_SF), "--seed", str(DATA_SEED),
                            "--cores", str(cores()), "--tmp", tmp],
                os.path.join(build.BUILD, "gen.log"), tmp, t_end)
        shutil.rmtree(tmp, ignore_errors=True)
        open(os.path.join(d, ".ok"), "w").close()
    return d


def harness(cp, mode, args, log, tmp, t_end):
    """Run one harness JVM to completion (or kill it at the deadline)."""
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_cmd(cp, extra=["-Djava.io.tmpdir=" + tmp]) + [mode] + args
    # Spark prefers these over spark.local.dir; the run keeps its files in tmp
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=build.ROOT, env=env)
        try:
            rc = p.wait(timeout=max(1.0, t_end - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: %s timed out (log: %s)" % (mode, log))
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit("perfbench: %s exited %d (log: %s)" % (mode, rc, log))


def cpu_times():
    """The host's aggregate CPU tick counters (Linux), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """The share of CPU time the hypervisor took from this host during
    the run. The metrics count CPU time, which leaves steal out, but a
    run with a high steal share still reads its wall times slow, and its
    CPU times somewhat high, for reasons outside the program."""
    if before and after and len(before) > 7:
        d = [b - a for a, b in zip(before, after)]
        return d[7] / max(sum(d), 1)
    return 0.0


def read_records(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def summarize(recs, workload, traced, steal):
    setup = next(r for r in recs if r["kind"] == "setup")
    ops = [r for r in recs if r["kind"] == "op"]
    verify = {r["key"]: r["err"] for r in recs if r["kind"] == "verify"}
    window = next(r for r in recs if r["kind"] == "window")
    # a key that failed the post-window check fails every op it ran
    for op in ops:
        if op["key"] in verify:
            op["ok"] = False
    good = [op for op in ops if op["ok"]]
    walls = [op["s"] for op in good]
    cpus = [op["cpu_s"] for op in good]
    # each key's mean CPU per op; the window runs every key equally often
    by_key = {}
    for op in good:
        by_key.setdefault(op["key"], []).append(op["cpu_s"])
    key_cpus = [stats.mean(v) for v in by_key.values()]
    attempted, failed = len(ops), len(ops) - len(good)
    correct = failed == 0 and not verify
    for k, e in sorted(verify.items()):
        print("check failed: %s: %s" % (k, e))
    for op in ops:
        if not op["ok"] and "err" in op:
            print("op failed: %s: %s" % (op["key"], op["err"]))
    batches = window["batch_ms"] if workload != "query_mix" else window["sql_ms"]
    print("%s: %d ops attempted, %d failed, fail_ratio %.4f; host steal share %.3f" % (
        workload, attempted, failed, failed / max(attempted, 1), steal))
    # wall time moves with the host's load, so it is shown, not gated
    print("wall time: setup %.2f s, ops_per_s %.4f, op_p50_s %.4f, batch_p50_ms %.1f" % (
        setup["s"], len(good) / window["s"], stats.median(walls) or 0.0,
        stats.median(batches) or 0.0))
    if traced:
        metrics = stats.layer_summary(good, window["cores"], window)
        metrics["trace.op_p50_s"] = stats.median(walls)
        metrics["trace.ops_per_s"] = len(good) / window["s"]
        metrics["trace.op_cpu_p50_s"] = stats.median(key_cpus)
        metrics["trace.cpu_s_per_op"] = stats.mean(cpus)
        metrics["host.steal_share"] = steal
    else:
        metrics = {
            "setup_s": setup["cpu_s"],
            "op_cpu_p50_s": stats.median(key_cpus),
            "cpu_s_per_op": stats.mean(cpus),
            "heap_live_mb": window["heap_live_mb"],
        }
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if traced else "end_to_end"]
    if traced:  # a layer the workload never reached reads 0
        metrics = {m["name"]: metrics.get(m["name"], 0.0) for m in declared}
    missing = [m["name"] for m in declared if metrics.get(m["name"]) is None]
    if missing:
        raise SystemExit("perfbench: no value for %s" % ", ".join(missing))
    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build.build()
    data = data_dir(cp, time.time() + BUILD_DEADLINE_S)
    t_end = time.time() + DEADLINE_S
    run = os.path.join(build.BUILD, "runs", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    recs_path = os.path.join(run, "records.jsonl")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores()),
            "--data", data, "--out", recs_path, "--tmp", os.path.join(run, "tmp")]
    if a.workload != "daily_ticks":
        args += ["--expected", os.path.join(HERE, "expected", a.workload + ".json")]
    try:
        last = os.path.join(build.BUILD, "last-%s-trace%d" % (a.workload, a.trace))
        cpu0 = cpu_times()
        harness(cp, "run", args, last + ".log", os.path.join(run, "tmp"), t_end)
        steal = steal_share(cpu0, cpu_times())
        recs = read_records(recs_path)
        shutil.copy(recs_path, last + ".jsonl")
        result = summarize(recs, a.workload, a.trace == 1, steal)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
