#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_dag|board_sweep \\
        --seed N --seconds N --trace 0|1

It builds the engine and the harness from source with sbt (once per source
tree), runs one workload in one JVM, checks every output, prints each
metric with its unit, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones of a traced run.
Tables are read from $GRAFT_TESTDATA (default ~/testdata); everything
the run writes stays under perfbench/.work. README.md describes the
workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import stats  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(BENCH, ".work")
HEAP = "3g"
# workload -> the test tables it reads
WORKLOADS = {"ingest_dag": "sf0.1", "board_sweep": "sf0.001"}
DEADLINE_S = 170   # a run that is not done by then is killed, with no result
# disjoint parts of op time (stats.split_op_time)
SHARES = ["executor", "eager_jobs", "construction", "planning", "dispatch"]
MODULES = ["CoreQueries", "DomainQueries", "TextQueries", "SketchQueries",
           "Multimodal", "Records", "TextPrep", "EventJoins", "TextRank",
           "Graphs", "Analytics"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# op latency is reported at its median only: a run holds 19-23 ops, and no
# higher percentile has ten samples beyond it
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_ms", "ms"),
              ("input_rows_per_s", "1/s"),
              ("cpu_s", "s"), ("retained_heap_mb", "MB"), ("success_ratio", "ratio")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    files = []
    for base in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src"),
                 os.path.join(BENCH, "build.sbt"),
                 os.path.join(BENCH, "project", "build.properties")):
        if os.path.isfile(base):
            files.append(base)
        for d, _, fs in os.walk(base):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def source_digest(root):
    h = hashlib.sha1()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build(root, digest):
    """Compile engine and harness with sbt unless this source tree already
    was; returns the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g"]))
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        print(p.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    cp = p.stdout.strip().splitlines()[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def run_jvm(cp, args, run_dir, deadline):
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dlog4j2.configurationFile={BENCH}/src/main/resources/log4j2.properties",
           "-cp", cp, "perfbench.Main", *args]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("the run did not finish in time")
    log.close()
    if rc != 0:
        print(open(os.path.join(run_dir, "jvm.log")).read()[-4000:], file=sys.stderr)
        fail(f"the JVM exited with {rc}")


# ---------------------------------------------------------------- checks

def table_paths(data_dir):
    return {os.path.basename(f)[:-len(".parquet")]: f
            for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet")))}


def table_stats(data_dir):
    import pyarrow.parquet as pq
    return {name: {"rows": pq.ParquetFile(path).metadata.num_rows,
                   "bytes": os.path.getsize(path)}
            for name, path in table_paths(data_dir).items()}


def check_outputs(raw, data_dir):
    """Marks every failed op attempt. An attempt fails when it raised, when
    a query's output differs from the committed oracle digest (every pass:
    row count; last pass: rows), or when a sink's records read back differ
    from the rows it was given (last pass). Returns (attempted, failed,
    failures by op, output rows by (op, pass))."""
    con = checks.connect(table_paths(data_dir))
    digests = json.load(open(os.path.join(BENCH, "digests.json")))
    passes = raw["passes"]
    last = len(passes)
    failures, rows = {}, {}

    def mark(op, p, why):
        failures.setdefault(op, {})[p] = why

    def out(name, p):
        return os.path.join(raw["out_root"], f"p{p}", name)

    for pr in passes:
        for o in pr["ops"]:
            if o["error"]:
                mark(o["name"], pr["pass"], o["error"])
    for op in raw["ops"]:
        name = op["name"]
        if op["sink"]:
            try:
                why = checks.check_sink(con, name, op["dir"], out(op["source"], last))
            except Exception as e:  # noqa: BLE001 - an unreadable sink is a failure
                why = f"read back failed: {e}"[:300]
            if why and last not in failures.get(name, {}):
                mark(name, last, why)
            continue
        want = digests.get(f"{raw['workload']}/{name}")
        for p in range(1, last + 1):
            got = None
            if checks.parts(out(name, p)):
                got = (checks.output_digest(con, out(name, p)) if p == last
                       else {"rows": checks.parquet_rows(out(name, p))})
                rows[(name, p)] = got["rows"]
            if p in failures.get(name, {}):
                continue
            if want is None:
                mark(name, p, "no committed digest")
            elif got is None:
                mark(name, p, "no output")
            elif got["rows"] != want["rows"]:
                mark(name, p, f"{got['rows']} rows, the oracle has {want['rows']}")
            elif p == last and got["digest"] != want["digest"]:
                mark(name, p, "rows differ from the oracle's")
    attempted = sum(len(pr["ops"]) for pr in passes)
    failed = sum(len(v) for v in failures.values())
    return attempted, failed, failures, rows


# ---------------------------------------------------------------- metrics

def end_to_end(raw, input_rows, attempted, failed):
    passes = raw["passes"]
    walls = [p["wall_ms"] / 1e3 for p in passes]
    op_ms = [o["ms"] for p in passes for o in p["ops"]]
    wall = stats.percentile(walls, 50)
    return {
        "setup_s": (raw["timed_start_ms"] - raw["jvm_start_ms"]) / 1e3,
        "wall_s": wall,
        "op_p50_ms": stats.percentile(op_ms, 50),
        "input_rows_per_s": input_rows / wall,
        "cpu_s": stats.percentile([p["cpu_ms"] / 1e3 for p in passes], 50),
        "retained_heap_mb": raw["retained_heap_mb"],
        "success_ratio": 1.0 - failed / attempted,
    }


def is_checkpoint(job):
    """Eager checkpoint jobs (graft.Ckpt -> GraftStatsCheckpoint) are named
    after the localCheckpoint call that submits them."""
    return "localCheckpoint" in job["call_site"]


def per_layer(raw, rows):
    """Per-layer numbers of a traced run, per pass (summed over the traced
    passes and divided by their number)."""
    spans, jobs, stages = raw["spans"], raw["jobs"], raw["stages"]
    n = max(1, len(raw["passes"]))
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["kind"] == "op"]
    op_of = {s["id"]: s["op"] for s in spans}
    job_by_span, loose_jobs = stats.attribute(jobs, spans)
    stage_by_span, _ = stats.attribute(stages, spans)
    op_stages = {}
    for sid, sts in stage_by_span.items():
        op_stages.setdefault(op_of[sid], []).extend(sts)
    span_ms = {}
    for s in spans:
        span_ms[s["kind"]] = span_ms.get(s["kind"], 0.0) + s["end_ms"] - s["start_ms"]
    m = {}

    def put(name, v):
        m[name] = m.get(name, 0.0) + v / n

    op_wall = span_ms.get("op", 0.0)
    idle = 0.0
    for s in ops:
        iv = [(x["start_ms"], x["end_ms"]) for x in op_stages.get(s["id"], [])
              if x.get("end_ms")]
        idle += (s["end_ms"] - s["start_ms"]) - stats.union_length(
            stats.clipped(iv, s["start_ms"], s["end_ms"]))
    grouped_jobs = [j for js in job_by_span.values() for j in js]
    all_stages = [x for sts in stage_by_span.values() for x in sts if "run_ms" in x]

    put("tables.input_rows", sum(x["input_rows"] for x in all_stages))
    put("tables.input_bytes", sum(x["input_bytes"] for x in all_stages))
    put("operators.build_ms", span_ms.get("build", 0.0))
    put("operators.rows_out", sum(r or 0 for r in rows.values()))
    module_of = {o["name"]: o["module"] for o in raw["ops"]}
    for mod in MODULES:
        put(f"operators.{mod}.op_ms", sum(s["end_ms"] - s["start_ms"] for s in ops
                                          if module_of[s["name"]] == mod))
    build_jobs = [j for sid, js in job_by_span.items() if by_id[sid]["kind"] == "build"
                  for j in js]
    ck = [j for j in build_jobs if is_checkpoint(j)]
    put("ckpt.jobs", len(ck))
    put("ckpt.ms", sum(j["end_ms"] - j["start_ms"] for j in ck))
    put("driver_reads.jobs", len(build_jobs) - len(ck))
    for ph in ("analysis", "optimization", "planning"):
        put(f"planner.{ph}_ms", sum(o["phases"].get(ph, 0.0) for p in raw["passes"]
                                    for o in p["ops"]))
    put("scheduler.jobs", len(grouped_jobs))
    put("scheduler.stages", sum(j["stages"] for j in grouped_jobs))
    put("scheduler.stages_skipped", sum(j["skipped"] for j in grouped_jobs))
    put("scheduler.tasks", sum(x["tasks"] for x in all_stages))
    put("scheduler.driver_idle_ms", idle)
    m["scheduler.idle_ms_per_job"] = idle / max(1, len(grouped_jobs))
    put("executor.run_ms", sum(x["run_ms"] for x in all_stages))
    put("executor.cpu_ms", sum(x["cpu_ms"] for x in all_stages))
    put("executor.gc_ms", sum(x["gc_ms"] for x in all_stages))
    put("executor.failed_tasks", sum(x["failed_tasks"] for x in all_stages))
    m["executor.util"] = sum(x["run_ms"] for x in all_stages) / max(1.0, op_wall * raw["cores"])
    put("shuffle.write_bytes", sum(x["shuffle_write_bytes"] for x in all_stages))
    put("shuffle.read_bytes", sum(x["shuffle_read_bytes"] for x in all_stages))
    put("shuffle.fetch_wait_ms", sum(x["fetch_wait_ms"] for x in all_stages))
    put("shuffle.spill_bytes", sum(x["spill_bytes"] for x in all_stages))
    writes = [s for s in spans if s["kind"] == "write"]
    write_stages = [x for s in writes for x in stage_by_span.get(s["id"], []) if "run_ms" in x]
    put("sources.write_ms", span_ms.get("write", 0.0))
    put("sources.bytes_written", sum(x["output_bytes"] for x in write_stages))
    put("sources.records_written", sum(x["output_rows"] for x in write_stages))
    put("sources.files_written", sum(o["files"] or 0 for p in raw["passes"] for o in p["ops"]))
    put("sources.publish_ms", sum(s["end_ms"] - s["start_ms"] for s in writes
                                  if "meta_records" in s["name"]))
    put("jvm.gc_ms", sum(p["gc_ms"] for p in raw["passes"]))
    put("jvm.gc_count", sum(p["gc_count"] for p in raw["passes"]))
    self_ms = stats.self_times(spans)
    for kind in ("workload", "pass", "op", "build", "plan", "execute", "write"):
        v = sum(t for sid, t in self_ms.items() if by_id[sid]["kind"] == kind)
        m[f"span.{kind}.self_ms"] = v if kind == "workload" else v / n
    children = {}
    for s in spans:
        if s["parent"] in by_id and by_id[s["parent"]]["kind"] == "op":
            iv = [(x["start_ms"], x["end_ms"]) for x in stage_by_span.get(s["id"], [])
                  if x.get("end_ms")]
            children.setdefault(s["parent"], []).append(
                (s["kind"], s["start_ms"], s["end_ms"], iv))
    split = {}
    for s in ops:
        for part, ms in stats.split_op_time(s, children.get(s["id"], [])).items():
            split[part] = split.get(part, 0.0) + ms
    for part in SHARES:
        m[f"share.{part}"] = split.get(part, 0.0) / max(1e-9, op_wall)
    m["trace.wall_s"] = stats.percentile([p["wall_ms"] / 1e3 for p in raw["passes"]], 50)
    m["trace.unattributed_jobs"] = float(len(loose_jobs))
    return m


PER_LAYER_UNITS = {
    "tables.input_rows": "count", "tables.input_bytes": "bytes",
    "operators.build_ms": "ms", "operators.rows_out": "count",
    **{f"operators.{mod}.op_ms": "ms" for mod in MODULES},
    "ckpt.jobs": "count", "ckpt.ms": "ms", "driver_reads.jobs": "count",
    "planner.analysis_ms": "ms", "planner.optimization_ms": "ms",
    "planner.planning_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.stages_skipped": "count", "scheduler.tasks": "count",
    "scheduler.driver_idle_ms": "ms", "scheduler.idle_ms_per_job": "ms",
    "executor.run_ms": "ms", "executor.cpu_ms": "ms", "executor.gc_ms": "ms",
    "executor.failed_tasks": "count", "executor.util": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "shuffle.spill_bytes": "bytes",
    "sources.write_ms": "ms", "sources.bytes_written": "bytes",
    "sources.files_written": "count", "sources.records_written": "count",
    "sources.publish_ms": "ms", "jvm.gc_ms": "ms", "jvm.gc_count": "count",
    **{f"span.{k}.self_ms": "ms" for k in
       ("workload", "pass", "op", "build", "plan", "execute", "write")},
    **{f"share.{part}": "ratio" for part in SHARES},
    "trace.wall_s": "s", "trace.unattributed_jobs": "count",
}


def loadavg():
    try:
        return open("/proc/loadavg").read().strip()
    except OSError:
        return "unknown"


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no engine sources under {root}/src/main/scala; run from a checkout's root")
    data_dir = os.path.join(os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata")),
                            WORKLOADS[a.workload])
    if not table_paths(data_dir):
        fail(f"no test tables in {data_dir}")
    tables = table_stats(data_dir)
    meta = {"commit": git_commit(root), "source_digest": source_digest(root),
            "nproc": os.cpu_count(), "loadavg_start": loadavg(), "heap": HEAP,
            "seed": a.seed, "workload": a.workload, "trace": a.trace,
            "seconds": a.seconds, "data": data_dir, "tables": tables,
            "input_rows": sum(t["rows"] for t in tables.values()),
            "input_bytes": sum(t["bytes"] for t in tables.values())}
    cp = build(root, meta["source_digest"])
    # the first run of a checkout builds; its own deadline starts after that
    deadline = max(started, time.time() - 30) + DEADLINE_S
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if a.workload == "ingest_dag":
        checks.plant_history(os.path.join(run_dir, "sinks", "meta_records"))
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--work", run_dir, "--data", data_dir, "--cores", str(cores)],
            run_dir, deadline - 15)
    raw = json.load(open(os.path.join(run_dir, "raw.json")))
    attempted, failed, failures, rows = check_outputs(raw, data_dir)
    meta.update(loadavg_end=loadavg(), cores=cores,
                loadavg_timed_start=raw["loadavg_timed_start"],
                ops=[o["name"] for o in raw["ops"]], passes=len(raw["passes"]),
                op_samples=sum(len(p["ops"]) for p in raw["passes"]),
                failures=failures)
    if a.trace:
        metrics, units = per_layer(raw, rows), PER_LAYER_UNITS
        with open(os.path.join(WORK, f"trace-{a.workload}.json"), "w") as fh:
            json.dump({"meta": meta, "spans": raw["spans"], "jobs": raw["jobs"],
                       "stages": raw["stages"], "passes": raw["passes"]}, fh)
    else:
        metrics = end_to_end(raw, meta["input_rows"], attempted, failed)
        units = dict(END_TO_END)
    print(json.dumps({"run": meta}, sort_keys=True))
    for name in units:
        print(f"{name:32s} {metrics[name]:>18.6g} {units[name]}")
    for op, why in sorted(failures.items()):
        print(f"FAILED {op}: " + "; ".join(f"pass {p}: {w}" for p, w in sorted(why.items())))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
