"""Product-path benchmark of the harvest pipeline.

    python3 perfbench/run.py --workload harvest_full --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt, which depends on the
root build); later runs reuse the build while the sources are unchanged.

Workloads:
  harvest_full     cold harvest of a generated collection into an empty store
  harvest_refresh  the same collection a week later onto the week-0 store

Each run is one `HarvestJob.run` with the SQLite artifact on (on refresh,
`HarvestJob.run` and then `Store.writeSqliteArtifact`; see Harness.scala),
on local[nproc] with nproc shuffle partitions, one client, runs back to
back for --seconds. Inputs come from --seed (perfbench/gen.py). Outputs are
checked after the JVM exits: the run's counters against the generator's,
the artifact's digest across runs, and SQLite's integrity check and table
counts on the artifact.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: end-to-end metrics with --trace 0, per-layer metrics of one
traced run with --trace 1. The line before it records the environment.
Everything is written under .bench_build/ in the checkout.
"""

import argparse
import hashlib
import json
import os
import shutil
import sqlite3
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("harvest_full", "harvest_refresh")
CONCEPTS = 10_000
AS_OF = ("2026-01-05 06:00:00", "2026-01-12 06:00:00")  # week 0, week 1
DEADLINE_S = 170  # the JVM is killed after this; a first build comes on top

END_TO_END = {"run_s": "s", "bindings_per_s": "1/s", "stored_bytes_per_input_byte": "ratio",
              "setup_s": "s"}
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_retries": "count", "spark.job_busy_s": "s", "spark.driver_only_s": "s",
    "spark.task_cpu_s": "s", "spark.sched_delay_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.materialized_bytes": "bytes", "spark.peak_execution_memory_bytes": "bytes",
    "jvm.peak_rss_mb": "MB",
    "harvest.HarvestJob.s": "s", "harvest.HarvestJob.self_s": "s",
    "harvest.HarvestJob.job_s": "s", "harvest.HarvestJob.jobs": "count",
    "harvest.Merge.job_s": "s", "harvest.Merge.jobs": "count",
    "harvest.Validate.job_s": "s", "harvest.Validate.jobs": "count",
    "harvest.Store.job_s": "s", "harvest.Store.jobs": "count", "harvest.other.jobs": "count",
    "harvest.Store.bytes_written": "bytes", "harvest.Store.files_written": "count",
    "harvest.Store.export_s": "s", "harvest.Sqlite.build_s": "s",
    "harvest.Sqlite.bytes": "bytes", "harvest.Sqlite.rows": "count",
    "harvest.Merge.useful_ratio": "ratio",
    "trace.run_s": "s", "trace.unaccounted_s": "s", "tracing_overhead_s": "s", "error_rate": "ratio",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of the sources and build files the build reads."""
    files = []
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(d, n) for n in names]
    for top in ("", "project", "perfbench", "perfbench/project"):
        d = os.path.join(ROOT, top)
        files += [os.path.join(d, n) for n in os.listdir(d) if n.endswith((".sbt", ".properties"))]
    h = hashlib.sha256(ROOT.encode())
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def ensure_built():
    """Compile the program and the harness; return the JVM launch recipe."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    launch_file = os.path.join(HERE, "target", "launch.json")
    stamp = source_stamp()
    if os.path.exists(launch_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return json.load(open(launch_file))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx4g")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not os.path.exists(launch_file):
        fail(f"build failed (exit {rc}); see {os.path.join(BUILD, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return json.load(open(launch_file))


def run_jvm(launch, work, args, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + launch["java_options"] + [f"-Djava.io.tmpdir={tmp}", "-cp",
           os.pathsep.join(launch["classpath"]), "perfbench.Harness"]
           + [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness timed out")
    if proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited {proc.returncode}")
    return [json.loads(line[len("PERFBENCH "):]) for line in out.splitlines()
            if line.startswith("PERFBENCH ")]


def sqlite_counts(path):
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        integrity = con.execute("PRAGMA integrity_check").fetchone()[0]
        tables = [r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type='table'")]
        counts = {t: con.execute(f'SELECT count(*) FROM "{t}"').fetchone()[0] for t in tables}
    finally:
        con.close()
    return integrity, counts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    launch = ensure_built()
    deadline = time.monotonic() + DEADLINE_S

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        expect_all = gen.generate(a.seed, CONCEPTS, work)
        expect = expect_all[a.workload]
        refresh = a.workload == "harvest_refresh"
        input_bytes = os.path.getsize(os.path.join(work, "week1.parquet" if refresh else "week0.parquet"))
        lines = run_jvm(launch, work, {
            "workload": a.workload, "work": work, "seconds": a.seconds, "trace": a.trace,
            "cpus": len(os.sched_getaffinity(0)), "bindings0": os.path.join(work, "week0.parquet"),
            "bindings1": os.path.join(work, "week1.parquet"), "asOf0": AS_OF[0], "asOf1": AS_OF[1],
        }, deadline)
        artifacts = {r["digest"]: sqlite_counts(os.path.join(work, f"artifact-{r['digest']}.db"))
                     for r in lines if r["kind"] == "run" and "digest" in r}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    runs = [x for x in lines if x["kind"] == "run"]
    setup = next(x for x in lines if x["kind"] == "setup")
    env = next(x for x in lines if x["kind"] == "env")
    memory = next(x for x in lines if x["kind"] == "memory")
    trace = next((x for x in lines if x["kind"] == "trace"), None)

    # Checks: each run's counters, and its artifact's integrity and table
    # counts (one artifact is kept per digest); then the digest must repeat
    # across the runs of this invocation.
    problems = {}
    for r in runs:
        if "error" in r:
            problems[r["k"]] = r["error"]
        elif r["result"] != expect["result"] or r["warnings"] != 0:
            problems[r["k"]] = f"counters {r['result']} != {expect['result']}"
        elif artifacts[r["digest"]] != ("ok", expect["sqlite"]):
            integrity, counts = artifacts[r["digest"]]
            problems[r["k"]] = f"artifact integrity={integrity} counts={counts} != {expect['sqlite']}"
    if len({r["digest"] for r in runs if r["k"] not in problems}) > 1:
        problems.update({r["k"]: "artifact digest differs between runs" for r in runs})
    for k, p in sorted(problems.items()):
        print(f"perfbench: check failed: run {k}: {p}", file=sys.stderr)
    failed = len(problems)

    timed = [r for r in runs if r["mode"] == "timed" and "error" not in r]
    if not timed:
        fail("no timed run completed")
    run_s = statistics.median(r["run_s"] for r in timed)
    if a.trace == 0:
        values = {
            "run_s": run_s,
            "bindings_per_s": expect["result"]["bindingsRead"] / run_s,
            "stored_bytes_per_input_byte": statistics.median(
                (r["store_bytes"] + r["sqlite_bytes"]) / input_bytes for r in timed),
            "setup_s": setup["setup_s"],
        }
        units = END_TO_END
    else:
        traced = next(r for r in runs if r["mode"] == "traced")
        res = expect["result"]
        values = dict(trace["metrics"])
        values.update({
            "harvest.Merge.useful_ratio": ((res["termsInserted"] + res["fieldsInserted"])
                                           / (res["distinctTerms"] + expect["fieldCandidates"])),
            "harvest.Sqlite.bytes": traced.get("sqlite_bytes", 0),
            "harvest.Sqlite.rows": sum(artifacts[traced["digest"]][1].values()) if "digest" in traced else 0,
            "jvm.peak_rss_mb": memory["peak_rss_mb"],
            "trace.run_s": traced["run_s"],
            "tracing_overhead_s": traced["run_s"] - run_s,
            "error_rate": failed / len(runs),
        })
        units = PER_LAYER

    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "concepts": CONCEPTS, "input_bytes": input_bytes, "expected": expect, "setup": setup,
              "env": env, "runs": runs, "trace_detail": trace, "problems": problems}
    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f)

    print(json.dumps({"env": env, "timed_runs": len(timed)}))
    print(json.dumps({
        "correct": not problems,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
