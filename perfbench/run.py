#!/usr/bin/env python3
"""Run one benchmark workload against the compiled engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine together with the harness under perfbench/ (sbt, offline)
when the sources changed since the last build, runs the workload in a fresh
JVM whose working directory is perfbench/runs/<workload>/, checks every
query's output against the stored DuckDB oracle results in
perfbench/expected/, and prints one JSON object as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it records the run's regime (cores, heap, Spark version,
load sentinel). Progress and logs go to stderr and to the run directory.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import verify

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "sf0.01")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("neardup", "stream_continuous")
HEAP = "8g"
RUN_LIMIT_S = 170  # a run must end within 180 s once built
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Modification stamp of every input of the build."""
    parts = []
    for top in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                parts.append(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}")
    st = os.stat(os.path.join(HERE, "build.sbt"))
    parts.append(f"build.sbt:{st.st_size}:{st.st_mtime_ns}")
    return "\n".join(parts)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(*tasks):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    proc = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=sys.stderr,
                          stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if proc.returncode != 0:
        sys.exit(f"[perfbench] sbt {' '.join(tasks)} failed ({proc.returncode})")


def ensure_built():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    log("building engine + harness")
    sbt("compile")
    with open(STAMP, "w") as f:
        f.write(stamp)


def spark_home():
    """SPARK_HOME, or the first Spark distribution on PATH (a bin/ with
    spark-submit next to a jars/ directory)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if (os.path.exists(os.path.join(d, "spark-submit"))
                and os.path.isdir(os.path.join(home, "jars"))):
            return home
    sys.exit("[perfbench] no Spark distribution found: set SPARK_HOME")


def spark_jars():
    return os.path.join(spark_home(), "jars", "*")


def run_jvm(run_dir, jvm_args, limit_s):
    """Run the harness main in `run_dir`; its stdout/stderr go to jvm.log."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
            f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}{os.pathsep}{spark_jars()}",
            "graft.perfbench.Main", *jvm_args]
    env = {k: v for k, v in os.environ.items()
           if k not in ("_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS")}
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=limit_s)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.time()
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"[perfbench] engine sources not found at {ENGINE_SRC}: run "
                 "from a full checkout of the repository")
    ensure_built()

    run_dir = os.path.join(HERE, "runs", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    launch_ms = int(time.time() * 1000)
    limit = max(30.0, RUN_LIMIT_S - (time.time() - t0))
    try:
        rc = run_jvm(run_dir, [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--t0-ms", str(launch_ms)], limit)
    except subprocess.TimeoutExpired:
        sys.exit(f"[perfbench] run exceeded {limit:.0f} s; see {run_dir}/jvm.log")
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        sys.exit(f"[perfbench] engine run failed (exit {rc}); see {run_dir}/jvm.log")
    with open(result_path) as f:
        res = json.load(f)

    # correctness, outside the timed region: every query's priming-pass
    # output against the stored oracle result
    mismatched = []
    for q in res["queries"]:
        ok, why = verify.compare(os.path.join(EXPECTED, f"{q}.parquet"),
                                 os.path.join(run_dir, "out", q))
        if not ok:
            log(f"MISMATCH {q}: {why}")
            mismatched.append(q)
    failed = len(res["failed_queries"]) + len(mismatched)
    attempted = res["attempted"]

    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    if args.trace:
        metrics["fail_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    regime = dict(res["regime"], failed_queries=res["failed_queries"],
                  mismatched=mismatched, fail_ratio=failed / attempted,
                  passes=[(p["kind"], round(p["wall_s"], 3)) for p in res["passes"]],
                  run_s=round(time.time() - t0, 1))
    print(json.dumps({"regime": regime}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
