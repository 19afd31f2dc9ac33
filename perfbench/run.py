#!/usr/bin/env python3
"""pg_datalakespark benchmark, one workload per call.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/METRICS.md for what each op does and why):
  olap_read     16 headline read queries through SparkEntry.queries
  lake_dml      lake-table writes: CTAS, small appends, COW/MOR deletes,
                update, upsert, merge, lake reads, COPY, maintenance
  llm_pipeline  10 text/dedup/similarity pipeline queries; runs by hand
                only, BENCHMARK.json does not list it (METRICS.md says why)

Run from the root of a checkout. The first call builds the engine and the
harness from source with sbt (perfbench/build.sbt); later calls reuse the
build while the sources are unchanged. The workload runs in its own JVM
on local[2], one client issuing one op at a time, for --seconds of whole
rounds after a warm-up pass. Every op's output is checked outside its
timed window: read queries against DuckDB oracle fingerprints
(perfbench/oracle), lake ops against a plain-DataFrame model.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(timed from the benchmark's calls into the engine's modules and from
Spark listeners). The line before the last holds the full report; the
last line is the result object. Exit status is non-zero when any op
failed or mismatched.
"""
import argparse
import collections
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

import stats

PB = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PB)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(PB, "target", "scala-2.13", "classes")
DATA = os.path.join(PB, "data", "sf0.1")
PROBE_DATA = os.path.join(PB, "data", "sf0.001")
ORACLE = os.path.join(PB, "oracle", "sf0.1.json")
# two task threads: with the driver, JIT and GC threads beside them, four
# oversubscribe a 4-vCPU box (an llm_pipeline round took 7.0 s on local[4],
# 5.7 s on local[2])
CORES = 2
HEAP = "4g"
WORKLOADS = ("olap_read", "llm_pipeline", "lake_dml")
# warm-up passes and minimum measured rounds per workload: olap_read's
# rounds keep getting faster (JIT) until about its fourth pass; lake_dml's
# 3 rounds hold the 100 appends append_p90_s needs
WARMUPS = {"olap_read": 4, "llm_pipeline": 2, "lake_dml": 1}
MIN_ROUNDS = {"olap_read": 3, "llm_pipeline": 3, "lake_dml": 3}
# a traced run interleaves traced and untraced rounds T U U T
MIN_TRACED_RUN_ROUNDS = 4
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

LAKE_DML_OPS = ("delete", "delete_mor", "update", "upsert", "merge")
LAKE_WRITES = ("ctas", "append", "delete", "delete_mor", "update", "upsert",
               "merge", "copy_to", "copy_from", "flush_deletes", "compact",
               "expire")


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _sources():
    roots = [ENGINE_SRC, os.path.join(PB, "src"), os.path.join(PB, "project")]
    files = [os.path.join(PB, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail("engine sources not found under %s; run from a full checkout"
             % ENGINE_SRC)
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    opts = ["-Xmx2g", "-XX:-UsePerfData", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos, "-Dsbt.offline=true"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=PB, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        fail("build failed (exit %d), see %s" % (rc, log))
    with open(stamp_file, "w") as f:
        f.write(stamp)


def spark_jars():
    """The Spark jars directory the engine's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt declares no unmanagedBase (the Spark jars directory)")
    return m.group(1)


def work_dir(name):
    d = os.path.join(BUILD_DIR, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def java(args, work, timeout=JVM_TIMEOUT_S):
    """Run perfbench.Main in its own JVM; its logs go to <work>/jvm.log."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.Main"] + [str(a) for a in args]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("benchmark JVM timed out after %ds" % timeout)
    if rc != 0:
        fail("benchmark JVM exited %d, see %s" % (rc, os.path.join(work, "jvm.log")))


# ---------------------------------------------------------------- metrics

UNITS = {
    "setup_s": "s", "round_s": "s", "op_geomean_s": "s",
    "query_geomean_s": "s", "append_p50_s": "s", "append_p90_s": "s",
    "delete_p50_s": "s", "delete_mor_p50_s": "s", "update_p50_s": "s",
    "upsert_p50_s": "s", "merge_p50_s": "s", "lake_read_s": "s",
    "storage_amp": "ratio", "peak_rss_mb": "MB", "fail_ratio": "ratio",
}


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def split_rounds(ops):
    """Measured ops of rounds in which every op passed; failed rounds are
    reported but left out of the timing statistics."""
    timed = [o for o in ops if o["round"] >= 0]
    bad = {o["round"] for o in timed if not o["ok"]}
    good = [o for o in timed if o["round"] not in bad]
    return good, sorted({o["round"] for o in timed}), bad


def round_walls(ops):
    walls = collections.defaultdict(float)
    for o in ops:
        walls[o["round"]] += o["wall_s"]
    return walls


def end_to_end(recs, spawn_s, workload):
    ops = [r for r in recs if r["kind"] == "op"]
    good, rounds, bad = split_rounds(ops)
    m = {}
    measure = next(r for r in recs if r["kind"] == "measure")
    warm_checks = sum(o["check_s"] for o in ops if o["round"] < 0)
    m["setup_s"] = measure["start_us"] / 1e6 - spawn_s - warm_checks
    if good:
        m["round_s"] = stats.median(round_walls(good).values())
        per_op = collections.defaultdict(list)
        for o in good:
            per_op[o["op"]].append(o["wall_s"])
        m["op_geomean_s"] = stats.geomean(
            stats.median(v) for v in per_op.values())
        if workload != "lake_dml":
            m["query_geomean_s"] = m["op_geomean_s"]
        else:
            apps = per_op["append"]
            m["append_p50_s"] = stats.median(apps)
            if (stats.tail_percentile(len(apps)) or 0) >= 90:
                m["append_p90_s"] = stats.percentile(apps, 90)
            for t in LAKE_DML_OPS:
                m[t + "_p50_s"] = stats.median(per_op[t])
            m["lake_read_s"] = stats.median(round_walls(
                [o for o in good if o["type"] == "read"]).values())
            st = [r for r in recs if r["kind"] == "storage"]
            if st:
                m["storage_amp"] = st[0]["table_bytes"] / st[0]["once_bytes"]
    end = next(r for r in recs if r["kind"] == "end")
    m["peak_rss_mb"] = end["peak_rss_mb"]
    failed = sum(not o["ok"] for o in ops)
    m["fail_ratio"] = failed / len(ops)
    info = {"rounds": len(rounds), "failed_rounds": len(bad),
            "op_samples": len(good)}
    if workload == "lake_dml":
        info["append_samples"] = sum(o["op"] == "append" for o in good)
    return m, len(ops), failed, info


def _dur_ms(spans, name):
    return sum(s["end_us"] - s["start_us"] for s in spans if s["name"] == name) / 1e3


def op_layers(o, spans):
    """Per-layer figures of one traced op."""
    lo, hi = o["start_us"], o["end_us"]
    phases = [s for s in spans if s["name"].startswith("plans.")]
    stages = [s for s in spans if s["name"] == "exec.stage"]
    jobs = [s for s in spans if s["name"] == "exec.job"]
    ivals = lambda ss: [(s["start_us"], s["end_us"]) for s in ss]
    wall_ms = o["wall_s"] * 1e3
    plan_ms = o["analysis_ms"] + o["optimization_ms"] + o["planning_ms"]
    stage_wall_ms = stats.covered(ivals(stages), lo, hi) / 1e3
    union_ms = stats.covered(ivals(phases + stages), lo, hi) / 1e3
    x = {
        "plans.analysis_ms": o["analysis_ms"],
        "plans.optimization_ms": o["optimization_ms"],
        "plans.planning_ms": o["planning_ms"],
        "plans.kernel_nodes": o["kernel_nodes"],
        "plans.probe_cache_hits": o["probe_cache_hits"],
        "plans.probe_cache_misses": o["probe_cache_misses"],
        "exec.jobs": o["jobs"], "exec.stages": o["stages"],
        "exec.tasks": o["tasks"], "exec.run_ms": o["run_ms"],
        "exec.cpu_ms": o["cpu_ms"], "exec.gc_ms": o["gc_ms"],
        "exec.shuffle_write_bytes": o["shuffle_write_bytes"],
        "exec.shuffle_read_bytes": o["shuffle_read_bytes"],
        "exec.spill_bytes": o["spill_bytes"],
        "exec.scan_bytes": o["scan_bytes"], "exec.scan_rows": o["scan_rows"],
        "exec.stage_wall_ms": stage_wall_ms,
        "exec.driver_gap_ms": wall_ms - plan_ms - stage_wall_ms,
        # planning phases that ran while a stage was running count twice
        # in the sum above; this is that double count (0 when the three
        # parts reconcile exactly with the op's wall time)
        "trace.overlap_ms": plan_ms + stage_wall_ms - union_ms,
        "queries.build_ms": _dur_ms(spans, "queries.build"),
        "core.meta_read_ms": _dur_ms(spans, "core.meta_read"),
        "core.live_files_ms": _dur_ms(spans, "core.live_files"),
    }
    if o["type"] == "query":
        x["queries.%s_s" % o["op"]] = o["wall_s"]
    if o["op"] in LAKE_WRITES:
        x["engine.self_ms.%s" % o["op"]] = stats.self_time(
            o, phases + jobs) / 1e3
        x["engine.files_rewritten"] = o.get("files_rewritten", 0)
    if o["op"] in ("delete", "update", "merge"):
        x["_cow_matched"] = o.get("matched_rows", 0)
        x["_cow_rewritten"] = o.get("rewritten_rows", 0)
    if o["op"] == "scan":
        x["_scanned"] = o.get("files_scanned", 0)
        x["_skipped"] = o.get("files_skipped", 0)
    if o["op"] == "cdc":
        x["streaming.cdc_read_ms"] = wall_ms
    return x


def per_layer(recs, spans, cores, per_op_path):
    """Per-layer metrics of a traced run; every traced op's own figures
    (wall = planning + stage wall + driver gap, less the overlap) are
    written to `per_op_path` as JSON lines."""
    ops = [r for r in recs if r["kind"] == "op"]
    good, _, _ = split_rounds(ops)
    traced = [o for o in good if o["traced"]]
    untraced = [o for o in good if not o["traced"]]
    by_op = collections.defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    totals = collections.defaultdict(lambda: collections.defaultdict(float))
    overlap = 0.0
    with open(per_op_path, "w") as f:
        for o in traced:
            x = op_layers(o, by_op[o["id"]])
            f.write(json.dumps({"round": o["round"], "op": o["op"],
                                "wall_ms": o["wall_s"] * 1e3, **x}) + "\n")
            overlap = max(overlap, x["trace.overlap_ms"])
            for k, v in x.items():
                totals[o["round"]][k] += v
    for r in recs:
        if r["kind"] == "table_state" and r["round"] in totals:
            for k in ("snapshots", "manifests", "live_files", "delete_files",
                      "metadata_bytes", "data_bytes"):
                totals[r["round"]]["core." + k] = r[k]
    rows = []
    for t in totals.values():
        t["exec.busy_ratio"] = t["exec.run_ms"] / (t["exec.stage_wall_ms"] * cores) \
            if t["exec.stage_wall_ms"] > 0 else 0.0
        t["core.prune_skipped_ratio"] = t["_skipped"] / (t["_scanned"] + t["_skipped"]) \
            if t["_scanned"] + t["_skipped"] > 0 else 0.0
        t["engine.cow_useful_ratio"] = t["_cow_matched"] / t["_cow_rewritten"] \
            if t["_cow_rewritten"] > 0 else 0.0
        rows.append({k: v for k, v in t.items() if not k.startswith("_")})
    keys = sorted({k for r in rows for k in r})
    m = {k: stats.median([r.get(k, 0.0) for r in rows]) for k in keys}
    # layers a workload leaves idle read 0
    for k in ("core.snapshots", "core.manifests", "core.live_files",
              "core.delete_files", "core.metadata_bytes", "core.data_bytes",
              "engine.files_rewritten"):
        m.setdefault(k, 0.0)
    probes = [o["wall_s"] for o in ops if o["type"] == "probe" and o["ok"]]
    if probes:
        m["box.probe_s"] = stats.median(probes)
    if traced and untraced:
        m["trace.overhead_frac"] = (
            stats.median(round_walls(traced).values()) /
            stats.median(round_walls(untraced).values()) - 1.0)
    m["trace.overlap_ms"] = overlap
    return m


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ms") or name.startswith("engine.self_ms."):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio") or name.endswith("_frac"):
        return "ratio"
    return "count"


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ([m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]])


# ------------------------------------------------------------------- main

def run_workload(workload, seed, seconds, trace):
    """Run one workload in its own JVM; prints the report line and the
    result line and returns whether every op passed."""
    e2e_names, layer_names = declared()
    work = work_dir("run-%s" % workload)
    out = os.path.join(work, "out")
    spawn = time.time()
    java(["--workload", workload, "--seed", seed, "--seconds", seconds,
          "--trace", trace, "--data", DATA, "--probe-data", PROBE_DATA,
          "--oracle", ORACLE, "--out", out, "--work", os.path.join(work, "scratch"),
          "--cores", CORES, "--warmups", WARMUPS[workload],
          "--min-rounds", max(MIN_ROUNDS[workload],
                              MIN_TRACED_RUN_ROUNDS if trace else 0)], work)
    shutil.rmtree(os.path.join(work, "scratch"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    recs = load(os.path.join(out, "records.jsonl"))
    e2e, attempted, failed, info = end_to_end(recs, spawn, workload)
    if trace:
        full = per_layer(recs, load(os.path.join(out, "spans.jsonl")), CORES,
                         os.path.join(out, "ops_layers.jsonl"))
        names = layer_names
    else:
        full = e2e
        names = e2e_names
    report = {"workload": workload, "seed": seed, "trace": trace,
              "attempted": attempted, "failed": failed, **info,
              "records": os.path.relpath(out, ROOT),
              "metrics": {k: {"value": v, "unit": unit_of(k)}
                          for k, v in sorted(full.items())}}
    print(json.dumps({"report": report}))
    missing = [n for n in names if n not in full]
    correct = failed == 0 and not missing
    if missing:
        print("perfbench: metrics not measured: %s" % missing, file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": full[n], "unit": unit_of(n)}
                    for n in names if n in full}}), flush=True)
    return correct


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="one workload, or all of them one after another")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    ok = [run_workload(w, a.seed, a.seconds, a.trace) for w in names]
    sys.exit(0 if all(ok) else 1)


if __name__ == "__main__":
    main()
