#!/usr/bin/env python3
"""The repository's benchmark: one workload, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the benchmark's
JVM entry point from source into .bench_build/ (once per source tree), makes the workload's inputs
from --seed, runs a warm-up pass and then timed passes for --seconds on
local[<cores>], checks the outputs outside the timed section and prints one
JSON line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. It exits non-zero when an output check fails.

Workloads (see perfbench/NOTES.md):
  osm_etl        the paper's OSM XML -> 5 tables -> Q1-Q5 + audits pipeline
  corpus_stages  the README Corpus chain, one stage per operation
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen_docs  # noqa: E402
import gen_osm  # noqa: E402

WORKLOADS = ("osm_etl", "corpus_stages")
OSM_NODES = 5_000
JVM_HEAP = "3g"
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

OUTPUT_DIRS = {"osm_etl": "osm_tables", "corpus_stages": "corpus"}
SPARK_COUNTS = ["jobs", "stages", "tasks", "task_s", "task_gc_s", "input_mb", "output_mb",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "driver_gap_s"]
OSM_TABLES = ["nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags"]
CORPUS_STAGES = [
    "withQualityRules", "withLmScoreFromStore", "filterByQualityRules", "filterByLangMedian",
    "dedupSegmentsIntra", "dedupSegments", "dedupExact", "dedupNearQualitySurvivor",
    "dedupNearVerified", "filterDupSpans", "decontaminate", "decontaminateFuzzy", "redactPii",
    "selectByDsir", "mixByTemperature", "withBpeTokenCount", "takeTokenBudget", "chunkTokens"]


def metric_units():
    """{"end_to_end": {name: unit}, "per_layer": {name: unit}} from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        files += sorted(f for f in glob.glob(os.path.join(d, "**", "*"), recursive=True)
                        if os.path.isfile(f))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            if f.read() == digest:
                return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath


# --------------------------------------------------------------- inputs

def docs_inputs():
    """The documents table, made once per version of its generator and sample."""
    h = hashlib.sha256()
    for p in (os.path.join(HERE, "gen_docs.py"), gen_docs.SAMPLE):
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "inputs", f"docs-{h.hexdigest()[:16]}")
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = tempfile.mkdtemp(dir=os.path.dirname(out))
        gen_docs.generate(tmp)
        os.rename(tmp, out)
    return out


# ------------------------------------------------------------- metrics

def output_mb(path):
    """Bytes of data files the last pass left under `path` (no checksums or markers)."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path)
               for f in files if not f.startswith((".", "_"))) / 1048576


def end_to_end(res, work, workload):
    passes = res["passes"]
    return {
        "setup_s": res["setup_s"],
        "run_s": statistics.median(p["wall_s"] for p in passes),
        "live_heap_mb": res["live_heap_mb"],
        "output_mb": output_mb(os.path.join(work, OUTPUT_DIRS[workload])),
    }


def per_layer(res, workload, inputs):
    passes = res["passes"]
    cores = res["cores"]
    # every name is printed on both workloads; the other workload's layer reads 0
    vals = {f"osm.{m}": 0.0 for m in ["scan_s", "xml_read_ratio", "audit_s"]
            + [f"write_s.{t}" for t in OSM_TABLES] + [f"q{i}_s" for i in range(1, 6)]}
    vals.update({f"api.{s}{m}": 0.0 for s in CORPUS_STAGES for m in ("_s", ".jobs")})
    vals["api.writeJsonl_s"] = 0.0

    def op_median(name, field, stat=False):
        return statistics.median(o["stats"][field] if stat else o[field]
                                 for p in passes for o in p["ops"] if o["name"] == name)

    for c in SPARK_COUNTS:
        vals[f"spark.{c}"] = statistics.median(
            [sum(o["stats"].get(c, 0.0) for o in p["ops"]) for p in passes])
    vals["spark.core_busy_ratio"] = statistics.median(
        [sum(o["stats"].get("task_s", 0.0) for o in p["ops"]) / (p["wall_s"] * cores)
         for p in passes])
    vals["setup.session_s"] = res["session_s"]
    vals["setup.warmup_s"] = res["warmup_s"]
    vals["setup.lm_store_s"] = res["setup_parts"].get("lm_store_s", 0.0)
    vals["trace.run_s"] = statistics.median([p["wall_s"] for p in passes])
    for k, v in res["traced"].items():
        vals[k] = v
    if workload == "osm_etl":
        xml_mb = os.path.getsize(os.path.join(inputs, "map.osm")) / 1048576
        vals["osm.xml_read_ratio"] = op_median("etl", "input_mb", stat=True) / xml_mb
        for i in range(1, 6):
            vals[f"osm.q{i}_s"] = op_median(f"q{i}", "wall_s")
        vals["osm.audit_s"] = op_median("audit", "wall_s")
    else:
        for s in CORPUS_STAGES:
            vals[f"api.{s}_s"] = op_median(s, "wall_s")
            vals[f"api.{s}.jobs"] = op_median(s, "jobs", stat=True)
        vals["api.writeJsonl_s"] = op_median("writeJsonl", "wall_s")
    return vals


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="corpus_stages: store this seed's outputs as the golden value")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala; run from a checkout root")

    classpath = build()
    started = time.monotonic()
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    work = tempfile.mkdtemp(dir=os.path.join(BUILD, "runs"))
    try:
        if args.workload == "osm_etl":
            inputs = os.path.join(work, "inputs")
            gen_osm.generate(inputs, args.seed, OSM_NODES)
        else:
            inputs = docs_inputs()
        os.makedirs(os.path.join(work, "tmp"))
        cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
               f"-Djava.io.tmpdir={work}/tmp"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
                "--inputs", inputs, "--work", work, "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--seed", str(args.seed)]
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            left = DEADLINE_S - (time.monotonic() - started)
            try:
                rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=left).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark JVM failed ({rc})")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        for p in [res["warmup"]] + res["passes"]:
            print(f"perfbench: pass {p['tag']} {p['wall_s']:.2f}s: " + " ".join(
                f"{o['name']}={o['wall_s']:.2f}" for o in p["ops"]), file=sys.stderr)
        bad = checks.run(args.workload, work, inputs, args.record_golden)
        for b in bad:
            print(f"perfbench: check failed: {b}", file=sys.stderr)
        op_errors = [f"{p['tag']}/{o['name']}: {o['error']}" for p in [res["warmup"]] + res["passes"]
                     for o in p["ops"] if not o["ok"]]
        for e in op_errors:
            print(f"perfbench: operation failed: {e}", file=sys.stderr)
        attempted = sum(len(p["ops"]) for p in res["passes"])
        failed = len(op_errors) + len(bad)
        if args.trace:
            vals, units = per_layer(res, args.workload, inputs), metric_units()["per_layer"]
        else:
            vals, units = end_to_end(res, work, args.workload), metric_units()["end_to_end"]
        if set(vals) != set(units):
            fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(units) - set(vals))}, "
                 f"unlisted {sorted(set(vals) - set(units))}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": vals[k], "unit": u} for k, u in units.items()}}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
