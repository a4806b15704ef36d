#!/usr/bin/env python3
"""Bridge benchmark: drives graft's CLI (graft.App produce/consume) through one
workload and prints one JSON result line.

    python3 bridgebench/run.py --workload produce_burst --seed 1 --seconds 10 --trace 0

Run it from the root of a graft checkout. The first run compiles graft's
sources together with the benchmark harness (sbt, offline); later runs reuse
the build while the sources are unchanged. Everything a run writes goes under
`.bench_build/bridgebench/` in the checkout. See bridgebench/NOTES.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("produce_burst", "consume_drain", "roundtrip_wal")
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"bridgebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home, os.path.join(home, "jars")


def source_stamp(root):
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, work, spark_home, budget_s):
    """Compiles graft and the harness unless the stamped build is current."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(work, "build.stamp")
    stamp = source_stamp(root)
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    env = dict(os.environ, SPARK_HOME=spark_home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                             stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build timed out after {budget_s:.0f} s (log: {log})")
    if code != 0:
        fail(f"build failed (log: {log})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def run_jvm(classes, jars, work, args, timeout_s):
    tmp = os.path.join(work, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-Xmn768m", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.sql.streaming.streamingQueryListeners=graft.bench.PhaseListener",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.bench.BridgeBench", "--work", work] + args
    # the CLI's own defaults (local[4], 4 shuffle partitions) are part of
    # what the benchmark measures, so no outside override reaches it
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_MASTER", "SPARK_GRAFT_CPUS")}
    log = os.path.join(work, "logs", f"{args[1]}-seed{args[3]}-trace{args[7]}-{os.getpid()}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail(f"run timed out after {timeout_s:.0f} s (log: {log})")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    lines = [l[len("BRIDGEBENCH "):] for l in out.splitlines() if l.startswith("BRIDGEBENCH ")]
    if p.returncode != 0 or not lines:
        fail(f"harness exited {p.returncode} without a result (log: {log})")
    return json.loads(lines[-1])


def trace_overhead(records_dir, workload, traced):
    """Traced minus untraced end-to-end values, as a share of the untraced
    median over the untraced records of this workload in this checkout."""
    base = {}
    for f in glob.glob(os.path.join(records_dir, f"{workload}-seed*-trace0-*.json")):
        with open(f) as fh:
            for k, v in json.load(fh)["end_to_end"].items():
                base.setdefault(k, []).append(v)
    return {k: (traced[k] - statistics.median(vs)) / statistics.median(vs)
            for k, vs in base.items() if k in traced and statistics.median(vs) != 0}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    started = time.monotonic()

    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "src", "main", "scala", "graft", "App.scala")):
        fail("run from the root of a graft checkout (src/main/scala/graft/App.scala not found)")
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    spark_home, jars = spark_jars()
    work = os.path.join(root, ".bench_build", "bridgebench")
    os.makedirs(work, exist_ok=True)

    classes = build(root, work, spark_home, budget_s=800)
    built_s = time.monotonic() - started
    # a run gets 170 s; a run that had to build may use what is left of 880 s
    budget = 170 - built_s if built_s < 30 else 880 - built_s
    res = run_jvm(classes, jars, work,
                  ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", a.trace], budget)

    records = os.path.join(work, "records")
    os.makedirs(records, exist_ok=True)
    res["run_py_s"] = time.monotonic() - started
    if a.trace == "1":
        res["trace_overhead"] = trace_overhead(records, a.workload, res["end_to_end"])
    stamp = time.strftime("%Y%m%dT%H%M%S")
    record = os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}.json")
    with open(record, "w") as fh:
        json.dump(res, fh, indent=1)

    print("host " + json.dumps(res["host"]))
    print("check " + json.dumps(res["check"]))
    if a.trace == "1":
        print("phase_coverage " + json.dumps(res["phase_coverage"]))
        print("trace_overhead " + json.dumps(res["trace_overhead"]))
        print(f"spans {res['trace_file']}")
        print(f"{'layer':<40} {'self_ms':>12} {'spans':>8}")
        for layer, row in res["self_time"].items():
            print(f"{layer:<40} {row['self_ms']:>12.1f} {row['spans']:>8}")
    print(f"record {record}")

    kind = "per_layer" if a.trace == "1" else "end_to_end"
    values = res[kind]
    missing = [m["name"] for m in spec[kind] if m["name"] not in values]
    if missing:
        fail(f"harness did not report {', '.join(missing)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
