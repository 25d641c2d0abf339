"""Cross-check the stored fingerprints against the DuckDB oracle, once.

    python3 perfbench/oracle_check.py

Dumps the result of every key that has a stored fingerprint as parquet, checks that the dump's fingerprint is
the stored one, and runs the key's ``SparkEntry.oracleSql`` in DuckDB
over the same generated tables. Rows are compared as a multiset, with
columns sorted by name and floats to 10 significant digits. Writes
``perfbench/expected/oracle_check.json``; exits 1 on any mismatch.
"""

import json
import math
import os
import shutil
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else "%.10g" % v
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def rows(con, rel):
    cols = sorted(rel.columns)
    return cols, sorted(tuple(norm(v) for v in r)
                        for r in con.sql("SELECT %s FROM rel" % ",".join(
                            '"%s"' % c for c in cols)).fetchall())


def main():
    with open(os.path.join(run.HERE, "expected", "query_mix.json")) as fh:
        e = json.load(fh)
    expected = e["fingerprints"]
    keys = sorted(expected)
    cp = build.build()
    data = run.data_dir(cp, time.time() + 600)
    out = os.path.join(build.BUILD, "oracle-dump")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(build.BUILD, "oracle-tmp")
    run.harness(cp, "dump", ["--data", data, "--out", out, "--tmp", tmp, "--cores",
                             str(run.cores()), "--keys", ",".join(keys)],
                os.path.join(build.BUILD, "oracle.log"), tmp, time.time() + 4 * 3600)
    shutil.rmtree(tmp, ignore_errors=True)
    dumped = {r["key"]: r["fp"] for r in run.read_records(os.path.join(out, "fingerprints.jsonl"))}
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')" % (t, data, t))
    report = {}
    for k in keys:
        r = {"fingerprint_match": dumped.get(k) == expected[k]}
        if k in oracle:
            try:
                scols, srows = rows(con, con.sql(
                    "SELECT * FROM read_parquet('%s/%s/*.parquet')" % (out, k)))
                ocols, orows = rows(con, con.sql(oracle[k]))
                r.update(oracle="match" if (scols, srows) == (ocols, orows) else "differs",
                         rows=len(srows))
            except Exception as e:  # an oracle that DuckDB cannot run is a failure
                r.update(oracle="error", err=str(e)[:300])
        else:
            r["oracle"] = "none"
        report[k] = r
        print(k, r)
    bad = [k for k, r in report.items()
           if not r["fingerprint_match"] or r["oracle"] in ("differs", "error")]
    summary = {"duckdb": duckdb.__version__, "keys": len(report),
               "oracle_match": sum(r["oracle"] == "match" for r in report.values()),
               "no_oracle": sorted(k for k, r in report.items() if r["oracle"] == "none"),
               "failures": sorted(bad), "per_key": report}
    with open(os.path.join(run.HERE, "expected", "oracle_check.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(out, ignore_errors=True)
    print("%d keys, %d oracle matches, failures: %s" % (len(report), summary["oracle_match"], bad))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
