"""Calibrate the query workloads and write their expected values.

    python3 perfbench/calibrate.py [--from calibration.jsonl]

Runs every ``SparkEntry.queries`` key at the benchmark's
generated tables: one cold and two warm runs through the noop sink, then
two fingerprints of the result. A key whose two fingerprints differ is
not deterministic and is left out. Writes ``perfbench/expected/query_mix.json``:
the fingerprint and warm cost of every deterministic key, and the op
set. The op set takes batch keys at evenly spaced cost ranks, so that it
spans the whole cost range, plus one stateful stream key.
"""

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

BATCH_OPS = 5
# Stream keys cost 0.5-10 s each at the benchmark's scale on 4 cores, so
# the op set carries one stateful stream key from the cheaper half: a
# watermarked windowed aggregation, which commits RocksDB state every
# micro-batch and evicts it behind the watermark.
STREAM_OPS = ["q_stream_events_window"]


def spread_pick(ranked, n):
    """``n`` keys at evenly spaced ranks of a cost-sorted list."""
    if len(ranked) <= n:
        return list(ranked)
    return [ranked[int((i + 0.5) * len(ranked) / n)] for i in range(n)]


def write_expected(records, data):
    det = {r["key"]: r for r in records if "fp" in r and r["fp"][0] == r["fp"][1]}
    cost = {k: statistics.median(r["warm_s"]) for k, r in det.items()}
    batch = sorted((k for k in cost if not k.startswith("q_stream_")), key=cost.get)
    out = {
        "sf": run.QUERY_SF, "data_seed": run.DATA_SEED, "tables": data,
        "ops": sorted(spread_pick(batch, BATCH_OPS) + STREAM_OPS),
        "fingerprints": {k: det[k]["fp"][0] for k in sorted(det)},
        "warm_s": {k: round(cost[k], 3) for k in sorted(det)},
        "left_out": sorted({r["key"] for r in records} - set(det)),
    }
    path = os.path.join(run.HERE, "expected", "query_mix.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("query_mix: %d keys fingerprinted, op set %s" % (len(det), out["ops"]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--from", dest="src", help="reuse an earlier calibration.jsonl")
    a = ap.parse_args()
    cp = build.build()
    data = run.data_dir(cp, time.time() + 3600)
    src = a.src or os.path.join(build.BUILD, "calibration.jsonl")
    if not a.src:
        tmp = os.path.join(build.BUILD, "calibrate-tmp")
        run.harness(cp, "calibrate", ["--data", data, "--out", src, "--tmp", tmp,
                                      "--cores", str(run.cores())],
                    os.path.join(build.BUILD, "calibrate.log"), tmp, time.time() + 4 * 3600)
    write_expected(run.read_records(src), os.path.relpath(data, build.ROOT))


if __name__ == "__main__":
    main()
