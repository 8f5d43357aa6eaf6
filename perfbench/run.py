#!/usr/bin/env python3
"""Text-to-result benchmark for the graft engine.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the harness with sbt
on first use (into target/ and .bench_build/), runs one workload in a
fresh JVM, checks every query's rows against DuckDB on the same files,
and prints a report line and then the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer metrics. `--smoke` runs tiny inputs (one pass) so the
benchmark's own test can check every metric name quickly. See README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import headline_data  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# Per workload: input scale (sf for headline, fixture factor otherwise),
# the pass time measured on a 4-core host at that scale, and the untimed
# warm-up passes. A run times --seconds / pass_s passes, so every run of a
# workload times the same number of executions. job_joins is not in
# BENCHMARK.json: its set-up and pass (~75 s and ~28 s at factor 1) do not
# fit the run budget.
WORKLOADS = {
    "headline": {"scale": 0.1, "smoke_scale": 0.01, "pass_s": 1.0, "warmups": 2},
    "h2o_groupby": {"scale": 1, "smoke_scale": 1, "pass_s": 2.5, "warmups": 2},
    "job_joins": {"scale": 1, "smoke_scale": 1, "pass_s": 28.0, "warmups": 1},
}
DUCKDB_PASSES = 3        # timed DuckDB passes after the correctness pass
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600

JVM_OPTS = ["-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"] + [
    a for p in ("java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def run_proc(cmd, timeout, log_path, cwd=ROOT, env=None):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def source_stamp():
    """Sizes and mtimes of every build input, so edits trigger a rebuild."""
    parts = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target" and x != "project")
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".properties", ".sbt")):
                    st = os.stat(os.path.join(d, f))
                    parts.append(f"{os.path.relpath(os.path.join(d, f), ROOT)}:{st.st_size}:{st.st_mtime_ns}")
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        st = os.stat(f)
        parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return "\n".join(parts)


def ensure_build():
    """Compiles engine + harness once per source state; returns the classpath."""
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g"])
    t0 = time.time()
    build_log = os.path.join(WORK, "build.log")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                  BUILD_TIMEOUT_S, build_log, cwd=HERE, env=env)
    lines = open(build_log).read().splitlines()
    if rc != 0 or not lines:
        fail(f"sbt build failed (exit {rc}); see {build_log}")
    cp = lines[-1].strip()
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one pass (harness self-test)")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a full checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    cp = ensure_build()

    w = WORKLOADS[a.workload]
    scale = w["smoke_scale"] if a.smoke else w["scale"]
    passes = 1 if a.smoke else max(2, round(a.seconds / w["pass_s"]))
    if a.trace:
        passes = max(2, passes + passes % 2)  # half the passes are traced
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "scratch", "tmp")
    os.makedirs(tmp)

    # Inputs are generated once per checkout and reused: headline's tables
    # here, the fixtures by the engine's own generator on the first run. A
    # traced run always regenerates the fixture, so it can time generation.
    data_cache = os.path.join(WORK, "data", f"{a.workload}-{scale}")
    if a.workload == "headline":
        data_cache += "-" + headline_data.version()
        data = headline_data.ensure(data_cache, scale)
    else:
        data = data_cache if os.path.exists(os.path.join(data_cache, "_DONE")) and not a.trace else ""

    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.PerfBench",
                                 "--workload", a.workload, "--seed", str(a.seed), "--passes", str(passes),
                                 "--trace", str(a.trace), "--out", run_dir, "--data", data,
                                 "--factor", str(scale) if a.workload != "headline" else "1",
                                 "--warmups", "0" if a.smoke else str(w["warmups"])]
    t0 = time.time()
    rc = run_proc(cmd, JVM_TIMEOUT_S, os.path.join(run_dir, "jvm.log"))
    if rc != 0 or not os.path.exists(os.path.join(run_dir, "result.json")):
        fail(f"benchmark process failed (exit {rc}); see {run_dir}/jvm.log")
    jvm_s = time.time() - t0
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    bad, ties, duck_pass_s = oracle.check_and_pair(run_dir, res["cores"], 1 if a.smoke else DUCKDB_PASSES)
    if not data and not os.path.exists(os.path.join(data_cache, "_DONE")):
        shutil.rmtree(data_cache, ignore_errors=True)
        shutil.copytree(res["data_dir"], data_cache)
        open(os.path.join(data_cache, "_DONE"), "w").close()
    shutil.rmtree(os.path.join(run_dir, "scratch"), ignore_errors=True)

    # an execution fails if it threw, differed from the query's first
    # execution, or belongs to a query whose rows disagree with DuckDB
    attempted = res["attempted"]
    failed_by_query = {q: n for q, n in res["failed_by_query"].items() if n}
    for q in bad:
        failed_by_query[q] = res["passes"]
    failed = sum(failed_by_query.values())

    values = res["layers"] if a.trace else res["metrics"]
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted
               if m["name"] not in missing}

    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "scale": scale, "passes": res["passes"],
        "cores": res["cores"], "fail_frac": failed / attempted, "failed_by_query": failed_by_query,
        "oracle_mismatch": bad, "oracle_last_digit_diffs": ties, "duckdb_pass_s": duck_pass_s, "duckdb_threads": res["cores"],
        "probe_job_ms": res["probe_job_ms"], "query_tail": res["tail"], "setup": res["setup"],
        "query_median_ms": res["query_median_ms"], "pass_s": res["pass_s"],
        "other_storage_mb": res["other_storage_mb"],
        "unlisted_layers": {k: v for k, v in res["layers"].items()
                            if k not in {m["name"] for m in bench["per_layer"]}},
        "jvm_wall_s": jvm_s, "run_dir": os.path.relpath(run_dir, ROOT),
        "missing_metrics": missing,
    }
    if a.trace:
        with open(os.path.join(run_dir, "layers.tsv")) as f:
            sys.stderr.write(f.read())
    print(json.dumps({"report": report}))
    for q, why in bad.items():
        log(f"{q}: rows differ from DuckDB: {why}")
    correct = failed == 0 and not missing and all(
        isinstance(v["value"], (int, float)) and math.isfinite(v["value"]) for v in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
