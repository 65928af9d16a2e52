#!/usr/bin/env python3
"""Benchmark of the graft Spark engine, run from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/workloads.json for key lists, verb mix, input
sizes and the per-layer expectations):

  llm_corpus_cold  every corpus-reading llm_* key on a fresh seeded corpus
                   each round, so the dedup caches are rebuilt each round
  snapshot_ingest  a long-lived snapshot table grown by a closed loop of
                   append/replay/merge/replace/compact/expire verbs with
                   readRange, SQL and cdc reads in between

The first run in a checkout compiles the engine (src/main/scala) and the
benchmark's own Scala sources with the Scala compiler shipped in the
Spark jars, into $CARGO_TARGET_DIR (default .bench_build). Inputs are
generated from --seed under .bench_work/ and only those files reach the
engine. Outputs are checked after the timed region: llm keys against
the DuckDB oracle (SparkEntry.oracleSql) or a brute-force recomputation
on the generated corpus, snapshot reads against an in-benchmark model.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). Lines before it print every metric by name with its unit,
the input generation time, and the per-round host-speed probe.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json"))) \
    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else None
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# input sizes (recorded in workloads.json)
CORPUS_DOCS, CORPUS_VECS, CORPUS_ROUNDS = 500, 200, 6
SNAP_BATCHES, SNAP_ORDERS = 41, 250
SWEEP_BATCHES, SWEEP_ORDERS = 6, 100


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the engine builds against: the `unmanagedBase`
    directory named in the repository's build.sbt, else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    jar_dir = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        fail(f"no Spark jars under '{jar_dir}' (set SPARK_HOME)")
    return jars


def build(build_dir):
    """Compile engine + benchmark sources once per source state."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.exists(os.path.join(engine, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {engine}")
    srcs = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(resources, "**", "*"), recursive=True)
                 if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(p.encode()); h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", ":".join(jars)] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        print(p.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"build_s {time.time() - t0:.3f} s")
    return classes


def generate(workload, seed, traced, in_dir):
    rng = np.random.default_rng(seed)
    if workload == "llm_corpus_cold":
        for r in range(CORPUS_ROUNDS):
            gen.corpus(rng, f"{in_dir}/corpus/r{r:03d}", CORPUS_DOCS, CORPUS_VECS)
        if traced:
            for r in range(CORPUS_ROUNDS):
                gen.corpus(rng, f"{in_dir}/probe/p{r:03d}", CORPUS_DOCS, CORPUS_VECS)
            gen.snapshot_batches(rng, f"{in_dir}/sweep/snap", SWEEP_BATCHES, SWEEP_ORDERS)
    else:
        gen.snapshot_batches(rng, f"{in_dir}/snap", SNAP_BATCHES, SNAP_ORDERS)
        if traced:
            gen.corpus(rng, f"{in_dir}/probe/p000", CORPUS_DOCS, CORPUS_VECS)


def run_jvm(classes, args, log):
    # no hsperfdata file in the system temp dir: the run stays inside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xmx4g", "-Xss16m", f"-Djava.io.tmpdir={args['work']}/tmp"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classes + ":" + ":".join(spark_jars()), "perfbench.Main",
              args["workload"], str(args["seed"]), str(args["seconds"]), str(args["trace"]),
              args["in"], args["work"], args["out"]])
    os.makedirs(f"{args['work']}/tmp", exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill(); p.wait()
            fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s (log: {log})")
    if rc != 0 or not os.path.exists(args["out"]):
        tail = open(log).read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"benchmark JVM exited with {rc} (log: {log})")
    return json.load(open(args["out"]))


def self_times(spans):
    """Self time per span name: span minus the part its children cover."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["id"], []).append(s)
    acc = {}
    for group in by_op.values():
        for s in group:
            kids = sorted((c["start"], c["end"]) for c in group
                          if c.get("parent") == s["name"] and c["end"] >= 0)
            covered, cur = 0, None
            for a, b in kids:
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur and a <= cur[1]:
                    cur[1] = max(cur[1], b)
                else:
                    if cur:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
            if cur:
                covered += cur[1] - cur[0]
            name = s["name"].split(":")[0]
            acc[name] = acc.get(name, 0) + (s["end"] - s["start"] - covered) / 1e3
    return acc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if BENCH is None:
        fail("BENCHMARK.json not found at the checkout root")
    if a.workload not in [w["name"] for w in BENCH["workloads"]]:
        fail(f"unknown workload {a.workload}")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(build_dir)

    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    in_dir = os.path.join(work, "in")
    t0 = time.time()
    generate(a.workload, a.seed, a.trace == 1, in_dir)
    gen_s = time.time() - t0
    print(f"generation_s {gen_s:.3f} s (outside setup_s and round_s)")

    t0 = time.time()
    res = run_jvm(classes, {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                            "trace": a.trace, "in": in_dir, "work": work,
                            "out": os.path.join(work, "result.json")},
                  os.path.join(work, "jvm.log"))

    jvm_s = time.time() - t0
    t0 = time.time()
    # failed = operations that threw + operations whose output is wrong
    ops = res["ops"]
    failures = res["op_errors"] + res["failures"]
    failed = sum(1 for o in ops if not o["ok"])
    # a key whose checked output is wrong fails in every round it ran
    bad = {}
    if a.workload == "llm_corpus_cold":
        bad = checks.check_llm(res)
        failures += [f"check {k}: {why}" for k, why in sorted(bad.items())]
    for f in res["failures"]:
        if f.startswith("check ") and ":" in f:
            bad[f[len("check "):f.index(":")]] = f
        else:
            failed += 1
    failed += sum(1 for o in ops if o["ok"] and o["name"] in bad)
    attempted = len(ops)
    failed = min(failed, attempted)
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(f"benchmark process {jvm_s:.3f} s, output checks {res['check_s'] + time.time() - t0:.3f} s")

    probes = res["host_probe_s"]
    print(f"rounds {res['rounds']}, operations {attempted}, queries {res['queries']}, "
          f"host_probe_s per round {[round(p, 3) for p in probes]} (diagnostic)")
    print(f"failed_ratio {failed / attempted:.4f} ratio ({failed}/{attempted})")
    if a.trace == 0:
        units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        metrics = {k: (res["e2e"][k], units[k]) for k in units}
        print(f"setup parts: session {res['setup_session_s']:.3f} s, warmup "
              f"{res['setup_warmup_s']:.3f} s, workload {res['setup_workload_s']:.3f} s")
    else:
        units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        metrics = {k: (res["layer"][k], units[k]) for k in units}
        spans = res.get("spans", [])
        trace_file = os.path.join(work_root, f"trace-{a.workload}-{a.seed}.jsonl")
        with open(trace_file, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        st = self_times(spans)
        print(f"storage_used_mb per round {[round(x, 3) for x in res['storage_per_round_mb']]}")
        print(f"spans {len(spans)} written to {os.path.relpath(trace_file, ROOT)}; self time s: "
              + ", ".join(f"{k} {v:.3f}" for k, v in sorted(st.items(), key=lambda kv: -kv[1])))
    for k, (v, u) in metrics.items():
        print(f"{k} {v} {u}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
