#!/usr/bin/env python3
"""Benchmark of the warehouse and curation paths (see perfbench/README.md).

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload dw_batch --seed 1 --seconds 15 --trace 0
  python3 perfbench/run.py --regen-digests     # rebuild perfbench/digests.json
  python3 -m unittest discover -s perfbench/tests

Builds the program and the harness on first use (perfbench/build.py),
runs one workload in one JVM, and prints each metric with its unit and
sample count, then one JSON line: correct, attempted, failed, metrics.
With --trace 0 the metrics are BENCHMARK.json's end-to-end metrics, with
--trace 1 its per-layer metrics. Exits non-zero when an output is wrong.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
DIGESTS = os.path.join(HERE, "digests.json")
WORKLOADS = ("dw_batch", "dw_stream")
# driver, executors and the stream generator share one JVM; the cores
# are the machine's Spark slots (at most four)
CORES = max(1, min(4, os.cpu_count() or 1))

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes, work, main_args):
    """The JVM command line; every file Spark, Derby or the JVM writes goes
    under `work`."""
    for sub in ("tmp", "warehouse", "local", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    return ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", *opens,
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dspark.local.dir={work}/local",
            f"-Dderby.system.home={work}/derby",
            # Derby stands in for the serving store (ClickHouse), which is
            # not under test: no fsync, so disk latency stays out of the
            # stream's timings
            "-Dderby.system.durability=test",
            "-Dspark.ui.enabled=false",
            "-cp", classes + os.pathsep + build.spark_jars(),
            "perfbench.Main", *main_args]


def run_jvm(classes, main_args, tag):
    """Run the harness; returns (exit code, stdout lines). The JVM's log
    goes to a file, shown on failure."""
    work = os.path.join(build.build_dir(), "run", f"{tag}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    log_path = os.path.join(build.build_dir(), "logs", f"{tag}-{os.getpid()}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(java_cmd(classes, work, [*main_args, "--work", work]),
                                 stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT)
            try:
                out, _ = p.communicate(timeout=170)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise SystemExit(f"perfbench: {tag} timed out; log {log_path}")
        if p.returncode not in (0, 1):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        return p.returncode, out.splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--regen-digests", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(DATA):
        raise SystemExit(f"perfbench: fixture data missing at {DATA}")
    classes = build.build()
    if a.regen_digests:
        import oracle
        oracle.regen(lambda args, tag: run_jvm(classes, args, tag), DATA, DIGESTS, CORES)
        return 0
    if not a.workload:
        ap.error("--workload is required")
    spec = bench_spec()
    code, lines = run_jvm(classes, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", DATA, "--digests", DIGESTS,
        "--cores", str(CORES),
        "--layer-metrics", ",".join(m["name"] for m in spec["per_layer"]),
        "--trace-dir", os.path.join(build.build_dir(), "traces")], a.workload)
    res = [l for l in lines if l.startswith("PERFBENCH ")]
    if code not in (0, 1) or not res:
        raise SystemExit(f"perfbench: {a.workload} failed (exit {code})")
    r = json.loads(res[-1][len("PERFBENCH "):])
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = r["metrics"].get(m["name"])
        if got is None:
            raise SystemExit(f"perfbench: {a.workload} reported no {m['name']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} cores={CORES}")
    for k, v in r["metrics"].items():
        print(f"{k:40s} {v['value']:>16.6g} {units.get(k, ''):8s} n={v['n']}")
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}), flush=True)
    return 0 if r["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
