#!/usr/bin/env python3
"""The repository benchmark: one command for every workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a repository checkout.  It builds the program from
source (reused while the sources are unchanged), generates the workload's
inputs from the seed, runs the workload in one JVM on `local[nproc]` and
prints, as the last line of standard output, one JSON object:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`).  Everything it
writes stays under `.bench_build/` in the checkout.

Workloads (see README.md):
  pipeline_batch  raw GTFS / IstDaten / weather files -> gold -> dashboard
                  refresh, one pass per operation
  catalog_mix     5 catalog queries over cached tables, one pass per operation
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("pipeline_batch", "catalog_mix")
# IstDaten events per service day (30 days).
EVENTS_PER_DAY = 200
# Scale factor of the generated catalog tables (graft.tools.GenData).
CATALOG_SF = "0.01"
HEAP = "3g"
# Every run ends within 180 s; the JVM gets what is left of it.
DEADLINE_S = 170
ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def java(classpath, main, args, tmp, timeout, heap=HEAP):
    """Runs a JVM main with Spark's module flags, all scratch under `tmp`."""
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           f"-Dderby.system.home={tmp}", *ADD_OPENS,
           "-cp", classpath, main, *args]
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: {main} did not finish within {timeout:.0f} s")


def catalog_data(root, classpath, classes, deadline):
    """Catalog tables from graft.tools.GenData, generated once per build."""
    data = os.path.join(root, build.BUILD_DIR,
                        f"catalog-sf{CATALOG_SF}-{os.path.basename(classes)}")
    if not os.path.exists(os.path.join(data, ".ok")):
        shutil.rmtree(data, ignore_errors=True)
        rc = java(classpath, "graft.tools.GenData", [data, CATALOG_SF],
                  os.path.join(root, build.BUILD_DIR, "tmp-gendata"),
                  deadline - time.time(), heap="2g")
        if rc != 0:
            raise SystemExit("perfbench: catalog table generation failed")
        open(os.path.join(data, ".ok"), "w").close()
    return data


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test hook: corrupt a gold table ("gold") or a dashboard answer ("answer")
    ap.add_argument("--tamper", choices=("gold", "answer"), help=argparse.SUPPRESS)
    a = ap.parse_args()

    root = os.getcwd()
    first_build = not built(root)
    classes = build.build(root)
    deadline = t_start + DEADLINE_S + (720 if first_build else 0)
    jars = os.path.join(build.spark_jars(), "*")
    classpath = os.pathsep.join([classes, jars])

    work = os.path.join(root, build.BUILD_DIR, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--out", os.path.join(work, "result.json")]
    if a.tamper:
        args += ["--tamper", a.tamper]
    if a.workload == "catalog_mix":
        data = catalog_data(root, classpath, classes, deadline)
        args += ["--data", data]
    else:
        inputs = os.path.join(work, "inputs")
        gen.generate(inputs, a.seed, EVENTS_PER_DAY)
        args += ["--inputs", inputs]

    rc = java(classpath, "perfbench.Main", args, os.path.join(work, "tmp"),
              deadline - time.time())
    if rc != 0:
        raise SystemExit(f"perfbench: the {a.workload} run failed (exit {rc})")
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    if a.workload == "catalog_mix":
        checked, bad = oracle.check(data, work)
        for name in bad:
            print(f"[perfbench] {name}: result differs from its DuckDB oracle", file=sys.stderr)
        result["attempted"] += checked
        result["failed"] += len(bad)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    attempted, failed = result["attempted"], result["failed"]
    print(f"[perfbench] {a.workload} seed={a.seed} error_rate={failed / attempted:.4f} "
          f"({failed}/{attempted})", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result["metrics"]}))


def built(root):
    """Whether the checkout holds a finished build."""
    d = os.path.join(root, build.BUILD_DIR)
    return os.path.isdir(d) and any(
        n.startswith("classes-") and os.path.exists(os.path.join(d, n, ".ok"))
        for n in os.listdir(d))


if __name__ == "__main__":
    main()
