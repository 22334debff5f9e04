#!/usr/bin/env python3
"""graft benchmark: one workload at one seed, one closed-loop client.

Usage (from the root of a checkout):
    python3 layerbench/run.py --workload {tail,compose,taxi-etl} \
        --seed N --seconds S --trace {0,1}

Builds the harness and the program from the checkout's sources (cached
in .bench_build/ while the sources are unchanged), runs the workload in
a fresh JVM with local[nproc], checks every output against DuckDB and
prints, as its last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer metrics of a traced run. The line before it
records the seed, the query list, the input sizes and the machine load;
the same record is kept in .bench_results/ for layer_diff.py.

Exits non-zero when the program cannot be built, a run fails, or an
output does not match. workloads.json holds the frozen query lists and
why each workload exists.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
RESULTS = os.path.join(ROOT, ".bench_results")
# The catalog's sf0.1 tables (TESTDATA.md); read only.
SF_DIR = os.environ.get("GRAFT_BENCH_SF_DIR",
                        os.path.expanduser("~/testdata/sf0.1"))
SPEC = json.load(open(os.path.join(HERE, "workloads.json")))
RUN_LIMIT_S = 170

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s",
              "rows_per_s": "rows/s"}

# per-layer metric -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.create_s": "s", "session.warm_s": "s",
    "compose.s": "s", "compose.jobs": "count", "compose.self_s": "s",
    "catalyst.s": "s", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.jobs_per_query": "count", "sched.driver_gap_s": "s",
    "exec.s": "s", "exec.task_s": "s", "exec.busy_cores": "ratio",
    "exec.max_task_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.gc_s": "s",
    "exec.peak_mem_mb": "MB",
    "scan.input_mb": "MB", "scan.input_rows": "rows",
    "caching.release_s": "s", "caching.peak_cached_mb": "MB",
    "stream.batches": "count", "stream.input_rows": "rows",
    "stream.add_batch_s": "s", "stream.planning_s": "s",
    "stream.wal_commit_s": "s", "stream.commit_offsets_s": "s",
    "sink.write_s": "s", "sink.rows": "rows", "sink.mb": "MB",
    "sink.files": "count",
    "sink.clean.write_s": "s", "sink.clean.rows": "rows",
    "sink.clean.mb": "MB", "sink.clean.files": "count",
    "sink.analytics.write_s": "s", "sink.analytics.rows": "rows",
    "sink.analytics.mb": "MB", "sink.analytics.files": "count",
    "taxi.clean_s": "s", "taxi.analytics_s": "s", "taxi.prewrite_s": "s",
    "trace.overhead_frac": "ratio", "trace.unattributed_frac": "ratio",
    "trace.unreconciled_ops": "count",
    "host.other_cpu_frac": "ratio", "host.loadavg_1m": "count",
    "failed_frac": "ratio",
}


def fail(msg):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, log, timeout, **kw):
    """Runs cmd to completion (killing it at the timeout), output to log."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, **kw)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def tail_of(path, n=20):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


# ------------------------------------------------------------------ build

def source_files():
    pats = ["build.sbt", "project/*.properties", "src/main/**/*",
            "layerbench/build.sbt", "layerbench/project/*.properties",
            "layerbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build():
    """Compiles program and harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources beside {HERE}; run from a checkout root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["sources"] == key:
            return got["classpath"]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, TMPDIR=os.path.join(BUILD, "tmp"))
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log = os.path.join(BUILD, "build.log")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "export Runtime/fullClasspath"], log, 800, cwd=HERE, env=env)
    lines = [l.strip() for l in open(log, errors="replace") if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "classes" not in cp or cp.startswith("["):
        fail(f"build failed (exit {rc}):\n{tail_of(log)}")
    with open(stamp, "w") as f:
        json.dump({"sources": key, "classpath": cp}, f)
    return cp


# --------------------------------------------------------------- workloads

def tail_sample(rng):
    """One query from each stratum of the pool sorted by recorded time,
    so every seed draws about the same amount of work."""
    spec = SPEC["tail"]
    pool = sorted(spec["pool"].items(), key=lambda kv: (kv[1], kv[0]))
    k = len(pool) // spec["sample"]
    return [rng.choice(pool[i * k:(i + 1) * k])[0] for i in range(spec["sample"])]


def plan(workload, seed):
    rng = random.Random(f"{workload}/{seed}")
    if workload == "taxi-etl":
        return None
    names = []
    if workload in ("tail", "catalog"):
        names += tail_sample(rng)
    if workload in ("compose", "catalog"):
        names += SPEC["compose"]["queries"]
    rng.shuffle(names)
    return names


def parquet_rows(paths):
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


# ------------------------------------------------------------------ checks

def check_catalog(names, dump, log, deadline):
    """Compares each dumped query with its DuckDB oracle. Returns the
    outputs checked, those that failed, and the names with no oracle SQL."""
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    unchecked = [n for n in names if n not in oracle]
    checked = [n for n in names if n in oracle]
    run_proc([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
              SF_DIR, dump] + checked, log, deadline - time.time(), cwd=WORK)
    ok = set()
    for line in open(log, errors="replace"):
        if line.startswith("OK "):
            ok.add(line.split()[1])
    bad = [n for n in checked if n not in ok]
    bad += [n for n in unchecked
            if os.path.exists(os.path.join(dump, n + "._ERROR"))]
    return len(checked), bad, unchecked


def check_taxi(raw, out, log, deadline):
    """check_taxi_year.py on stage 2's seven tables, and stage 1's row
    count against DuckDB's count of complete raw rows."""
    import duckdb
    rc = run_proc([sys.executable, os.path.join(ROOT, "tools", "check_taxi_year.py"),
                   raw, os.path.join(out, "tables")], log, deadline - time.time(),
                  cwd=WORK)
    bad = []
    for line in open(log, errors="replace"):
        if line.startswith("FAIL "):
            bad.append(line.split()[1].rstrip(":"))
    if rc != 0 and not bad:
        bad.append("check_taxi_year")
    cols = ", ".join(f'count("{c}")' for c in SPEC["taxi-etl"]["columns"])
    con = duckdb.connect()
    want = con.execute(
        f"SELECT count(*) FROM read_parquet('{raw}/*.parquet') WHERE "
        + " AND ".join(f'"{c}" IS NOT NULL' for c in SPEC["taxi-etl"]["columns"])
    ).fetchone()[0]
    got = con.execute(
        f"SELECT count(*), {cols} FROM read_parquet('{out}/clean/trips/*.parquet')"
    ).fetchone()
    if got[0] != want or any(c != want for c in got[1:]):
        bad.append("clean")
    return 8, bad, []


# ----------------------------------------------------------------- metrics

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["catalog", "compose", "tail", "taxi-etl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "cwd", "dump", "out"):
        os.makedirs(os.path.join(WORK, d))
    cpus = len(os.sched_getaffinity(0))
    names = plan(a.workload, a.seed)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "cpus": cpus}
    harness = [f"cpus={cpus}", f"seconds={a.seconds}", f"trace={a.trace}",
               f"work={os.path.join(WORK, 'out')}",
               f"result={os.path.join(WORK, 'result.json')}"]
    if names is None:
        spec = SPEC["taxi-etl"]
        raw = os.path.join(WORK, "raw")
        t0 = time.time()
        sys.path.insert(0, HERE)
        import gen_taxi
        raw_bytes = gen_taxi.write(raw, spec["rows"], spec["files"], a.seed)
        record["input"] = {"rows": spec["rows"], "files": spec["files"],
                           "mb": raw_bytes / 1048576, "build_s": time.time() - t0,
                           "sha256": hashlib.sha256(b"".join(
                               open(p, "rb").read() for p in sorted(
                                   glob.glob(raw + "/*.parquet")))).hexdigest()}
        input_rows = spec["rows"]
        harness += ["mode=taxi", f"raw={raw}"]
    else:
        if not os.path.isdir(SF_DIR):
            fail(f"catalog tables not found at {SF_DIR}")
        tables = sorted(glob.glob(os.path.join(SF_DIR, "*.parquet")))
        input_rows = parquet_rows(tables)
        record["input"] = {"sf_dir": SF_DIR, "rows": input_rows,
                           "mb": sum(map(os.path.getsize, tables)) / 1048576}
        record["queries"] = names
        harness += ["mode=catalog", f"sf={SF_DIR}",
                    f"dump={os.path.join(WORK, 'dump')}", "names=" + ",".join(names)]

    # no hsperfdata file in the system temp directory
    java = ["java", *JVM_OPENS, "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.Harness"] + harness
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), TMPDIR=os.path.join(WORK, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(WORK, "tmp"))
    jvm_log = os.path.join(WORK, "jvm.log")
    rc = run_proc(java, jvm_log, deadline - time.time(), cwd=os.path.join(WORK, "cwd"),
                  env=env)
    if rc != 0:
        fail(f"harness exited {rc}:\n{tail_of(jvm_log, 40)}")
    with open(os.path.join(WORK, "result.json")) as f:
        res = json.load(f)

    check_log = os.path.join(WORK, "check.log")
    if names is None:
        checked, bad, unchecked = check_taxi(raw, os.path.join(WORK, "out"),
                                             check_log, deadline)
    else:
        checked, bad, unchecked = check_catalog(names, os.path.join(WORK, "dump"),
                                                check_log, deadline)
    ops = res["ops"]
    # operations that threw plus outputs that failed the check, out of
    # the operations timed plus the outputs checked
    attempted = len(ops) + checked
    failed = sum(1 for o in ops if o["error"]) + len(bad)
    record.update({
        "passes": res["passes"], "ops": ops, "host": res["host"],
        "check_failed": bad, "unchecked": unchecked,
        "errors": {o["name"]: o["error"] for o in ops if o["error"]},
        "setup_s": res["setup_s"], "session_create_s": res["session_create_s"],
        "session_warm_s": res["session_warm_s"]})

    untraced = [p for p in res["passes"] if not p["traced"]]
    wall = statistics.median(p["wall_s"] for p in untraced)
    plain = {p["pass"] for p in untraced}
    lat = [o["latency_s"] for o in ops if o["pass"] in plain]
    if a.trace == 0:
        metrics = {"setup_s": res["setup_s"], "wall_s": wall,
                   "query_p50_s": statistics.median(lat),
                   "rows_per_s": input_rows / wall}
        units = END_TO_END
    else:
        # against the untraced passes after the first, which settles
        traced_wall = statistics.median(p["wall_s"] for p in res["passes"]
                                        if p["traced"])
        plain_wall = statistics.median(p["wall_s"] for p in untraced
                                       if p["pass"] > 0)
        metrics = dict(res["layers"])
        metrics.update({
            "session.create_s": res["session_create_s"],
            "session.warm_s": res["session_warm_s"],
            "trace.overhead_frac": traced_wall / plain_wall - 1,
            "host.other_cpu_frac": res["host"]["other_cpu_frac"],
            "host.loadavg_1m": res["host"]["loadavg_end"],
            "failed_frac": failed / attempted})
        units = PER_LAYER
        record["spans"] = len(res.get("spans", []))
    out = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    record["metrics"] = out
    record["run_s"] = time.time() - t_start
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump(dict(record, spans=res.get("spans", [])), f)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
