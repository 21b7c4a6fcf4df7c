"""Metrics derived from one run's raw record (written by PerfBench.scala).

End-to-end metrics (untraced runs) are medians over the run's rounds; a
round lasts longer than the benchmark's run_seconds, so every run makes
exactly one. `setup_s` is the CPU time, over every JVM thread, of the
run's session set-ups together: the first, in a fresh JVM, and the
restarts after it. Their wall time moved by 30% and more with the steal
time of a shared 4-vCPU host, their CPU time by under 5%.
Per-layer metrics (traced runs)
come from the spans and the Spark listener's per-group counters; a layer a
workload does not exercise reads 0.
"""
from collections import defaultdict

import stats

MB = 1 << 20

END_TO_END = {
    "setup_s": "s", "round_s": "s", "cpu_s": "s",
    "retained_heap_mb": "MB", "bytes_written": "bytes",
}

LAYER_UNITS = {
    "request.submit_ms": "ms", "request.status_us": "us",
    "job.export_s": "s", "job.import_s": "s", "job.resume_s": "s",
    "job.object_p50_s": "s", "job.object_max_s": "s",
    "job.concurrency": "ratio", "job.driver_gap_s": "s",
    "job.spark_jobs_per_object": "count",
    "job.export_rows_per_s": "rows/s", "job.import_rows_per_s": "rows/s",
    "job.resume_objects_per_s": "objects/s", "job.dump_bytes": "bytes",
    "status.live_coverage": "ratio",
    "fs.read_ops": "count", "fs.write_ops": "count", "fs.bytes_written": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.output_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.planning_s": "s",
    "spark.single_task_stage_s": "s", "spark.task_skew_max": "ratio",
    "cachepool.builds": "count", "cachepool.build_s": "s",
    "trace.round_s": "s",
}


def per_layer_units(queries):
    units = dict(LAYER_UNITS)
    for q in queries:
        units[f"operators.{q}.wall_s"] = "s"
        units[f"operators.{q}.cpu_s"] = "s"
    return units


def _group_sum(raw, groups, field):
    return sum(raw["groups"].get(g, {}).get(field, 0) for g in groups)


def _round_median(raw, fn):
    return stats.median(fn(r) for r in raw["rounds"])


def end_to_end(raw):
    return {
        "setup_s": sum(raw["setup_cpu_s"]),
        "round_s": _round_median(raw, lambda r: r["end"] - r["start"]),
        "cpu_s": _round_median(raw, lambda r: _group_sum(raw, r["groups"], "cpu_s")),
        "retained_heap_mb": raw["retained_heap_bytes"] / MB,
        "bytes_written": _round_median(raw, lambda r: r["fs"]["bytes_written"]),
    }


def _union_length(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def _med(xs):
    xs = list(xs)
    return stats.median(xs) if xs else 0.0


def per_layer(raw, queries):
    spans = raw["spans"]
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    rounds = [s for s in spans if s["name"] == "round"]
    m = {k: 0.0 for k in per_layer_units(queries)}

    # request layer
    m["request.submit_ms"] = _med((s["end"] - s["start"]) * 1e3
                                  for s in spans if s["name"] == "request.submit")
    m["request.status_us"] = _med((s["end"] - s["start"]) * 1e6
                                  for s in spans if s["name"] == "request.status")

    # job layer: job spans, their objects (from the terminal STATUS) and
    # the Spark jobs of their group
    jobs = {j["job"]: j for j in raw["detail"].get("jobs", [])}
    job_spans = [s for s in spans if s["name"].startswith("job.")]
    by_kind = defaultdict(list)
    for s in job_spans:
        by_kind[s["name"][4:]].append(s)
    for kind in ("export", "import", "resume"):
        m[f"job.{kind}_s"] = _med(s["end"] - s["start"] for s in by_kind[kind])
    moving = by_kind["export"] + by_kind["import"]
    objs = [o for s in moving for o in jobs[s["attrs"]["group"]]["objects"]]
    m["job.object_p50_s"] = _med(o["elapsed_s"] for o in objs)
    m["job.object_max_s"] = _med(
        max((o["elapsed_s"] for o in jobs[s["attrs"]["group"]]["objects"]),
            default=0.0) for s in moving)
    all_objs = [o for s in job_spans for o in jobs[s["attrs"]["group"]]["objects"]]
    wall = sum(s["end"] - s["start"] for s in job_spans)
    m["job.concurrency"] = (sum(o["elapsed_s"] for o in all_objs) / wall
                            if wall else 0.0)
    gaps, n_spark = [], 0
    for s in job_spans:
        sj = [(k["start"], k["end"]) for k in kids[s["id"]]
              if k["name"] == "spark.job"]
        n_spark += len(sj)
        gaps.append((s["end"] - s["start"]) -
                    _union_length(sj, s["start"], s["end"]))
    m["job.driver_gap_s"] = _med(gaps)
    m["job.spark_jobs_per_object"] = n_spark / len(all_objs) if all_objs else 0.0

    def job_totals(kind, unit):
        js = [jobs[s["attrs"]["group"]] for s in by_kind[kind]]
        return ([unit(j) for j in js], [s["end"] - s["start"] for s in by_kind[kind]])
    rows = lambda j: sum(o["rows"] for o in j["objects"])
    m["job.export_rows_per_s"] = stats.rate(*job_totals("export", rows))
    m["job.import_rows_per_s"] = stats.rate(*job_totals("import", rows))
    m["job.resume_objects_per_s"] = stats.rate(
        *job_totals("resume", lambda j: len(j["objects"])))
    m["job.dump_bytes"] = _med(sum(o["bytes"] for o in jobs[s["attrs"]["group"]]["objects"])
                               for s in by_kind["export"])

    # status layer: input bytes the listener credits to export job groups
    # against the bytes of the sources they read
    src = raw["detail"].get("source_bytes", 0)
    if by_kind["export"] and src:
        credited = _group_sum(raw, [s["attrs"]["group"] for s in by_kind["export"]],
                              "input_bytes")
        m["status.live_coverage"] = credited / (src * len(by_kind["export"]))

    # filesystem and Spark engine, per round
    def per_round(fn):
        return _med(fn(r) for r in raw["rounds"])
    for k in ("read_ops", "write_ops", "bytes_written"):
        m[f"fs.{k}"] = per_round(lambda r: r["fs"][k])
    stages_by_group = defaultdict(list)
    for st in raw["stages"]:
        stages_by_group[st["group"]].append(st)
    round_span = {s["attrs"]["index"]: s for s in rounds}

    def spark_jobs(r):
        return [j for j in raw["spark_jobs"] if j["group"] in set(r["groups"])]
    m["spark.jobs"] = per_round(lambda r: len(spark_jobs(r)))
    m["spark.stages"] = per_round(lambda r: sum(j["stages"] for j in spark_jobs(r)))
    for k, f in (("tasks", "tasks"), ("executor_run_s", "run_s"),
                 ("executor_cpu_s", "cpu_s"), ("gc_s", "gc_s"),
                 ("output_bytes", "output_bytes"),
                 ("shuffle_write_bytes", "shuffle_write_bytes"),
                 ("spill_bytes", "spill_bytes")):
        m[f"spark.{k}"] = per_round(lambda r: _group_sum(raw, r["groups"], f))

    def planning(r):
        s = round_span.get(r["index"])
        return sum(p["attrs"]["planning_s"] for p in spans
                   if p["name"] == "spark.plan" and s
                   and s["start"] <= p["start"] <= s["end"])
    m["spark.planning_s"] = per_round(planning)

    def round_stages(r):
        return [st for g in r["groups"] for st in stages_by_group[g]]
    m["spark.single_task_stage_s"] = per_round(
        lambda r: sum(st["wall_s"] for st in round_stages(r) if st["tasks"] == 1))
    m["spark.task_skew_max"] = per_round(lambda r: max(
        (st["task_max_s"] / st["task_median_s"] for st in round_stages(r)
         if st["tasks"] >= 2 and st["task_median_s"] > 0), default=0.0))

    # operators and memo builds, per query span
    for q in queries:
        qs = [s for s in spans if s["name"] == f"query.{q}"]
        m[f"operators.{q}.wall_s"] = _med(s["end"] - s["start"] for s in qs)
        m[f"operators.{q}.cpu_s"] = _med(
            raw["groups"].get(s["attrs"]["group"], {}).get("cpu_s", 0.0) for s in qs)
    builds = [s for s in spans if s["name"] == "cachepool.build"]

    def round_builds(r):
        s = round_span.get(r["index"])
        return [b for b in builds if s and s["start"] <= b["start"] <= s["end"]]
    m["cachepool.builds"] = per_round(lambda r: len(round_builds(r)))
    m["cachepool.build_s"] = per_round(
        lambda r: sum(b["attrs"]["build_s"] for b in round_builds(r)))
    m["trace.round_s"] = per_round(lambda r: r["end"] - r["start"])
    return m
