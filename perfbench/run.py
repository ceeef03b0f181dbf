#!/usr/bin/env python3
"""The pipeline benchmark: one warm-JVM run of one workload.

    python3 perfbench/run.py --workload curate|feed --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the harness from
source (build.py), generates the workload's inputs from the seed (gen.py,
cached per seed), then launches the harness JVM directly (perfbench.Main).
With --trace 0 the last stdout line carries the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer ones. Everything it writes
stays under <checkout>/.perfbench/.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

import build
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HEAP = "3g"
JVM_TIMEOUT_S = 170
# One iteration plans ~170-200 whole-stage codegen shapes, more than Spark's
# default cache of 100 holds, so at the default every warm iteration would
# compile them all again and flood the JIT with fresh classes; that JIT load
# was the largest source of run-to-run spread. The harness sizes the cache
# to hold one iteration's shapes, and reports the cold iteration's shape
# count as the bounded end-to-end metric `codegen_shapes`, so a change that
# adds shapes still fails a run.
CODEGEN_CACHE = 2000

# The layers each workload calls. A traced run that does not report one of
# them (a renamed span, a call the pipeline no longer makes) is an error, not
# a zero; a layer the workload does not call reports 0.
LAYERS = {
    "curate": ["pipelines.id_check", "text.line_scrub", "text.gate",
               "dedup.exact", "dedup.minhash", "dedup.candidates",
               "dedup.verify", "dedup.cc", "pipelines.write",
               "dedup.candidate_pairs", "dedup.verify_yield",
               "dedup.bucket_cap_drop_share"],
    "feed": ["ops.manifest.triplets", "ops.sampling.stratified",
             "ops.sampling.shuffle_pos", "pipelines.feed_sink",
             "ops.stats.evaluate", "text.token_count", "ops.planners.mixture",
             "pipelines.pack"],
}

# What Spark's launcher passes on JDK 17 (build.sbt carries the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classes = build.ensure(os.path.join(WORK, "build"))
    inputs = gen.ensure(a.workload, a.seed, os.path.join(WORK, "inputs"))

    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(run, d))
    result = os.path.join(run, "result.json")
    info = os.path.join(run, "info.json")
    log = os.path.join(run, "jvm.log")
    cores = str(max(1, min(4, os.cpu_count() or 1) // 2))
    # a fixed-size heap: G1 does not resize it between runs
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run}/tmp",
            f"-Dspark.hadoop.hadoop.tmp.dir={run}/tmp",
            f"-Dspark.local.dir={run}/local",
            "-Dspark.ui.enabled=false",
            f"-Dspark.sql.codegen.cache.maxEntries={CODEGEN_CACHE}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
              "perfbench.Main",
              "--workload", a.workload, "--inputs", inputs, "--work", run,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", cores, "--result", result, "--info", info,
              "--props", os.path.join(inputs, "props.json")])
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise SystemExit(f"perfbench: harness JVM failed ({rc}); log in {log}")

    with open(result) as f:
        res = json.load(f)
    with open(info) as f:
        details = json.load(f)
    with open(os.path.join(inputs, "truth.json")) as f:
        props = json.load(f)["props"]
    if os.path.exists(os.path.join(inputs, "props.json")):
        with open(os.path.join(inputs, "props.json")) as f:
            props.update(json.load(f))
    details["seed"] = a.seed
    details["inputs"] = props
    if a.trace:
        details["layers"] = res["metrics"]
    print("perfbench " + json.dumps(details))

    got = res["metrics"]
    required = [m["name"] for m in wanted]
    if a.trace:
        called = LAYERS[a.workload]
        required = [n for n in required if any(
            n == c or n.startswith(c + ".") for c in called)]
    missing = sorted({n for n in required if got.get(n) is None})
    if missing:
        sys.stderr.write(f"perfbench: the harness did not report {missing}\n")
    metrics = {m["name"]: {"value": got.get(m["name"]) or 0.0, "unit": m["unit"]}
               for m in wanted}
    correct = res["correct"] and not missing
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
