#!/usr/bin/env python3
"""Benchmark of the engine's export/import job path and analytics mix.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py, untimed), runs the
measured session in one JVM (perfbench/src/PerfBench.scala), checks every
output with DuckDB (perfbench/checks.py) and prints, as the last line of
stdout, one JSON object: correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (perfbench/metrics.py). The run's raw record is kept as
.bench_build/perfbench/raw-<workload>.json, with its spans when traced.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
RUN_LIMIT_S = 160

# The mix: 9 of SparkEntry.queries across the relational, as-of, event,
# dedup, text, multimodal, corpus and streaming modules; two of them build
# CachePool memos (three builds).
MIX = ["q_join_region", "q_agg_pricing", "q_asof_join", "q_sessionize",
       "q_minhash_recall", "q_substr_dedup", "q_image_phash", "q_bm25",
       "q_stream_sessions"]

WORKLOADS = {
    # the ten tables at 10% of TPC-H sf1 row counts (893k rows, 17 MB) in
    # schema main, plus 2 schemas of one table of 100-4,000 rows sampled
    # from a 1% base
    "etl_jobs": {"scale": 0.1, "small_scale": 0.01, "schemas": 2,
                 "per_schema": 1},
    # the ten tables at 10% (893k rows)
    "analytics_mix": {"scale": 0.1},
}

JVM_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def make_inputs(workload, seed, data):
    """The workload's source under `data`."""
    cfg = WORKLOADS[workload]
    gen.tables(data, cfg["scale"], seed)
    if workload == "etl_jobs":
        base = data + "-base"
        gen.tables(base, cfg["small_scale"], seed + 1)
        gen.many_tables(base, data, cfg["schemas"], cfg["per_schema"], seed)
        shutil.rmtree(base)


def run_jvm(classpath, args, log_path, timeout):
    cmd = ["java", "-Xmx2g", "-XX:+UseG1GC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.PerfBench"] + args
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=ROOT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


# ---- checks ----------------------------------------------------------------

def etl_sources(data):
    """{(schema, table): parquet path} of the export source: flat tables
    are schema main, directories are schemas."""
    out = {}
    for e in sorted(os.listdir(data)):
        p = os.path.join(data, e)
        if os.path.isdir(p):
            for f in sorted(os.listdir(p)):
                out[(e, f[:-len(".parquet")])] = os.path.join(p, f)
        else:
            out[("main", e[:-len(".parquet")])] = p
    return out


def check_etl(raw, data):
    """(attempted, {job: [reasons]}, jobs that reported success wrongly)."""
    d = raw["detail"]
    con = checks.duckdb.connect()
    sources = etl_sources(data)
    src = {k: checks.table_digest(con, p) for k, p in sources.items()}
    bad, wrong = {}, set()

    def fail(job, why, reported=False):
        bad.setdefault(job, []).append(why)
        if not reported:
            wrong.add(job)

    unchanged = {c["job"]: c["target_unchanged"] for c in d["skip_checks"]}
    for j in d["jobs"]:
        name = j["job"]
        if j["state"] != "COMPLETED" or j["error"]:
            fail(name, f"state {j['state']} {j['error']}", reported=True)
        p = j["percent"]
        if any(b < a for a, b in zip(p, p[1:])):
            fail(name, "percent_done decreased")
        objs = {(o["schema"], o["name"]): o for o in j["objects"]}
        if set(objs) != set(sources):
            fail(name, f"objects {sorted(objs)} != sources")
        for key, o in objs.items():
            if key not in src:
                continue
            if j["kind"] == "resume":
                if o["state"] != "SKIPPED":
                    fail(name, f"{key} {o['state']} on SKIP restart")
            elif o["state"] != "COMPLETED" or o["rows"] != src[key][0]:
                fail(name, f"{key} {o['state']} rows {o['rows']} != {src[key][0]}")
        if j["kind"] == "resume" and not unchanged.get(name, False):
            fail(name, "SKIP restart changed the target")

    exports = [j for j in d["jobs"] if j["kind"] == "export"]
    imports = [j for j in d["jobs"] if j["kind"] == "import"]
    if exports:
        for (s, t) in sources:
            n = d["export_parts"].get(f"{s}/{t}", 0)
            if n != d["parallel"]:
                fail(exports[-1]["job"],
                     f"{s}.{t}: {n} part files, PARALLEL={d['parallel']}")
    if imports:
        for (s, t), (n, h, cols) in src.items():
            pat = os.path.join(d["target"], d["remaps"][s], t, "*.parquet")
            got = checks.table_digest(con, pat, cols)
            if got[:2] != (n, h):
                fail(imports[-1]["job"], f"{s}.{t}: checksum {got[:2]} != {(n, h)}")
    con.close()
    return len(d["jobs"]), bad, wrong


def check_mix(raw, data):
    """(attempted, {query@round: [reasons]}, deliveries that were wrong)."""
    d = raw["detail"]
    cache = os.path.join(OUT, "oracle")
    digest = checks.input_digest(data)
    bad, wrong = {}, set()
    for q in d["queries"]:
        key = f"{q['query']}@{q['round']}"
        if q["error"]:
            bad[key] = [q["error"]]
            continue
        want = checks.oracle(data, q["query"], d["oracle_sql"][q["query"]],
                             cache, digest)
        why = checks.check_result(q["output"], want)
        if why:
            bad[key] = [why]
            wrong.add(key)
    return len(d["queries"]), bad, wrong


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    t0 = time.time()
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        make_inputs(a.workload, a.seed, data)
        log(f"inputs made in {time.time() - t0:.1f} s")
        t1 = time.time()
        raw_path = os.path.join(work, "raw.json")
        jvm_args = [f"workload={a.workload}", f"data={data}",
                    f"work={os.path.join(work, 'job')}",
                    f"seconds={a.seconds}",
                    f"trace={a.trace}",
                    f"out={raw_path}", "queries=" + ",".join(MIX)]
        log_path = os.path.join(OUT, f"jvm-{a.workload}.log")
        try:
            rc = run_jvm(classpath, jvm_args, log_path,
                         RUN_LIMIT_S - (time.time() - t0))
        except subprocess.TimeoutExpired:
            log(f"run exceeded {RUN_LIMIT_S} s; log: {log_path}")
            return 3
        if rc != 0 or not os.path.exists(raw_path):
            log(f"JVM exited with {rc}; log: {log_path}")
            return 4
        log(f"session ran in {time.time() - t1:.1f} s")
        t1 = time.time()
        with open(raw_path) as f:
            raw = json.load(f)
        shutil.copy(raw_path, os.path.join(OUT, f"raw-{a.workload}.json"))

        if a.workload == "analytics_mix":
            attempted, bad, wrong = check_mix(raw, data)
        else:
            attempted, bad, wrong = check_etl(raw, data)
        log(f"outputs checked in {time.time() - t1:.1f} s")
        for op, whys in sorted(bad.items()):
            log(f"FAILED {op}: {'; '.join(whys)}")

        if a.trace:
            values = metrics.per_layer(raw, MIX)
            units = metrics.per_layer_units(MIX)
        else:
            values = metrics.end_to_end(raw)
            units = metrics.END_TO_END
        # an operation that reported its own failure counts as failed; one
        # that reported success with a wrong output also makes the run
        # incorrect
        out = {"correct": not wrong, "attempted": attempted,
               "failed": len(bad),
               "metrics": {k: {"value": values[k], "unit": units[k]}
                           for k in units}}
        print(json.dumps(out))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
