#!/usr/bin/env python3
"""Writes perfbench/digests.json: for every query op a workload can run, the
canonical digest (checks.digest) of the DuckDB oracle's result
(`SparkEntry.oracleSql`) on that workload's tables. Run it from a
checkout's root when the board or its oracle SQL changes:

    python3 perfbench/make_digests.py

It runs each workload once in the JVM to get the ops and their oracle SQL, and reports every op whose Spark output
disagrees with its oracle. An op whose oracle DuckDB cannot evaluate gets
the digest of Spark's output instead, marked "source": "spark".
"""
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import run  # noqa: E402

ORACLE_TIMEOUT_S = 120


def oracle_digest(con, sql):
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return checks.digest(con, sql), None
    except Exception as e:  # noqa: BLE001 - reported and replaced by Spark's digest
        return None, str(e).splitlines()[0][:200]
    finally:
        timer.cancel()


def workload_digests(workload, raw, data):
    """Oracle digests of one workload's query ops, from a run that wrote
    their Spark outputs."""
    digests = {}
    con = checks.connect(run.table_paths(data), memory="4GB", threads=4)
    errors = {o["name"]: o["error"] for o in raw["passes"][0]["ops"] if o["error"]}
    for op in raw["ops"]:
        if op["sink"]:
            continue
        name = op["name"]
        spark = checks.output_digest(con, os.path.join(raw["out_root"], "p1", name))
        oracle, why = (oracle_digest(con, op["oracle_sql"]) if op["oracle_sql"]
                       else (None, "no oracle SQL"))
        if oracle:
            digests[f"{workload}/{name}"] = dict(oracle, source="oracle")
            if spark != oracle:
                print(f"{workload}/{name}: Spark output differs from the oracle "
                      f"({errors.get(name) or spark})", flush=True)
        elif spark:
            digests[f"{workload}/{name}"] = dict(spark, source="spark")
            print(f"{workload}/{name}: oracle not evaluated ({why}); Spark digest kept",
                  flush=True)
        else:
            print(f"{workload}/{name}: neither oracle nor Spark output ({errors.get(name)})",
                  flush=True)
    return digests


def main():
    root = os.getcwd()
    cp = run.build(root, run.source_digest(root))
    digests = {}
    for workload, sf in sorted(run.WORKLOADS.items()):
        data = os.path.join(os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata")), sf)
        work = os.path.join(run.WORK, f"digests-{workload}")
        os.makedirs(work, exist_ok=True)
        run.run_jvm(cp, ["--workload", workload, "--seed", "0", "--seconds", "0",
                         "--trace", "0", "--work", work, "--data", data,
                         "--cores", str(len(os.sched_getaffinity(0)))], work, time.time() + 3600)
        raw = json.load(open(os.path.join(work, "raw.json")))
        digests.update(workload_digests(workload, raw, data))
    with open(os.path.join(run.BENCH, "digests.json"), "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(digests)} digests written")


if __name__ == "__main__":
    main()
