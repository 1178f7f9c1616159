"""Benchmark entry point. From the root of a checkout:

    python3 perfbench/run.py --workload full_sync|serve_mixed --seed N \
        --seconds S --trace 0|1

Builds the program if needed (perfbench/build.py), generates the inputs
from the seed (perfbench/gen.py), runs one workload in one JVM
(perfbench/src/Harness.scala), checks the outputs (perfbench/check.py)
and prints one JSON line: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. A traced run also leaves its spans
and per-layer metrics under <build dir>/trace/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# The JVM's settings are fixed here rather than left to defaults:
# GraftSession starts local[32] without SPARK_GRAFT_CPUS.
CPUS = min(4, len(os.sched_getaffinity(0)))
HEAP = "2g"
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def load_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(classpath, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file in /tmp, outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "org.apache.spark.perfbench.Harness"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS))
    with open(os.path.join(work, "jvm.log"), "wb") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return -1


def span_summary(path):
    """Per span name: count, total and self milliseconds (a span's self
    time is its duration minus the time its child spans cover)."""
    spans = [json.loads(x) for x in open(path)]
    child = {}
    for s in spans:
        d = (s["end_ns"] - s["start_ns"]) / 1e6
        child[s["parent"]] = child.get(s["parent"], 0.0) + d
    out = {}
    for s in spans:
        d = (s["end_ns"] - s["start_ns"]) / 1e6
        o = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0,
                                       "self_ms": 0.0})
        o["count"] += 1
        o["total_ms"] += d
        o["self_ms"] += d - child.get(s["id"], 0.0)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["full_sync", "serve_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    spec = load_spec()
    classpath = build.ensure_built(root)

    out = build.build_dir(root)
    work = os.path.join(out, "run")
    shutil.rmtree(work, ignore_errors=True)  # a fresh output directory
    data = os.path.join(work, "data")
    gen.write_tables(a.seed, data)
    args = ["--workload", a.workload, "--data", data, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--result", os.path.join(work, "result.json")]
    if a.workload == "full_sync":
        args += ["--probe", gen.probe_term(a.seed)]
    if a.workload == "serve_mixed":
        plan = os.path.join(work, "plan.jsonl")
        gen.write_plan(a.seed, plan)
        args += ["--plan", plan]
    code = run_jvm(classpath, work, args)
    if code != 0:
        sys.stderr.write(f"harness exited {code}; see {work}/jvm.log\n")
        return 1
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    if a.workload == "full_sync":
        fails = check.check_full_sync(data, result)
    else:
        fails = check.check_serve_mixed(
            data, result, plan, os.path.join(work, "responses.jsonl"))
    for m in fails[:20]:
        sys.stderr.write(f"check failed: {m}\n")
    if "steal_pct" in result:
        sys.stderr.write(f"CPU steal during the timed window: "
                         f"{result['steal_pct']:.1f} %\n")
    # wall-clock latencies: reported, but not end-to-end metrics, since
    # they move with the CPU time other guests of the host take
    wall = {k: v for k, v in result["end_to_end"].items()
            if k in ("write_p50_ms", "read_p50_ms")}
    wall["setup_wall_s"] = result["setup_wall_s"]
    sys.stderr.write("wall: " + json.dumps(wall) + "\n")

    if a.trace:
        names = spec["per_layer"]
        got = result["per_layer"]
        # a layer the workload never calls did no work: 0
        values = {m["name"]: got.get(m["name"], 0.0) for m in names}
        tdir = os.path.join(out, "trace")
        os.makedirs(tdir, exist_ok=True)
        stem = os.path.join(tdir, f"{a.workload}-{a.seed}")
        spans = os.path.join(work, "spans.jsonl")
        shutil.copy(spans, stem + ".spans.jsonl")
        with open(stem + ".layers.json", "w") as f:
            # the traced run's own end-to-end figures, against the
            # untraced runs', give the tracing overhead
            json.dump({"per_layer": values, "spans": span_summary(spans),
                       "end_to_end_traced": result["end_to_end"],
                       "steal_pct": result.get("steal_pct")},
                      f, indent=1, sort_keys=True)
    else:
        names = spec["end_to_end"]
        values = result["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in names}
    shutil.rmtree(data, ignore_errors=True)
    print(json.dumps({"correct": not fails, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main())
