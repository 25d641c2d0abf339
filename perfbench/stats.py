"""Summary statistics of the benchmark: medians and layer sums."""

import statistics

# Per-layer metrics that are high-water marks: the workload value is the
# largest per-op value. Every other counter is summed per op and reported
# as its mean per op.
PEAKS = {"exchange.skew", "storage.block_bytes", "state.rows", "state.mem_bytes"}


def median(values):
    return statistics.median(values) if values else None


def mean(values):
    return statistics.fmean(values) if values else None


def layer_summary(ops, cores, window):
    """Aggregate per-op layer records into one value per layer metric."""
    sums, peaks = {}, {}
    for op in ops:
        for k, v in op.get("layers", {}).items():
            if k in PEAKS:
                peaks[k] = max(peaks.get(k, 0.0), v)
            else:
                sums[k] = sums.get(k, 0.0) + v
    n = max(len(ops), 1)
    out = {k: v / n for k, v in sums.items()}
    out.update(peaks)
    wall = sum(op["s"] for op in ops)
    out["sched.busy_share"] = sums.get("sched.task_run_s", 0.0) / (wall * cores) if wall else 0.0
    for part in ("build_s", "plan_s", "exec_s"):
        vals = [op[part] for op in ops if part in op]
        out["entry." + part] = sum(vals) / len(vals) if vals else 0.0
    streamed = [op for op in ops if op.get("layers", {}).get("stream.batches")]
    out["stream.startup_s"] = (
        sum(op["s"] - op["layers"].get("stream.trigger_ms", 0.0) / 1e3 for op in streamed)
        / len(streamed) if streamed else 0.0)
    out["jvm.jit_cpu_s"] = sum(op.get("jit_cpu_s", 0.0) for op in ops) / n
    for k in ("jvm.gc_s", "jvm.compile_s"):
        out[k] = window.get(k, 0.0)
    out.update(window.get("workload_layers", {}))
    return out
