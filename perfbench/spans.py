"""Span tree and per-layer metrics of a traced run.

The tree is workload -> pass -> query -> build / plan / execute, with the
Spark jobs a query launched as further children of that query. A span's
self time is its duration minus the part of it that its children cover.
"""
import math
import statistics


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """`end - start` minus what the (start, end) `children` cover."""
    return (end - start) - covered(children, start, end)


def _phases(kind, q):
    last = "count" if kind == "count" else "execute"
    return [("build", q["start"], q["built"]), ("plan", q["built"], q["planned"]),
            (last, q["planned"], q["end"])]


def jobs_by_query(result):
    """{(pass idx, query): [job record with start/end in run seconds]}."""
    out = {}
    ms0 = result["epoch_ms0"]
    for j in result["jobs"]:
        if j["group"].count("/") != 2:
            continue  # the untimed output dump runs without a job group
        idx, name, phase = j["group"].split("/")
        j = dict(j, phase=phase, start=(j["start_ms"] - ms0) / 1e3,
                 end=(j["end_ms"] - ms0) / 1e3)
        out.setdefault((int(idx), name), []).append(j)
    return out


def span_tree(workload, result):
    """Every span as {id, parent, kind, name, start, end, self_s}."""
    jobs = jobs_by_query(result)
    spans = []

    def add(parent, kind, name, start, end, children=()):
        span = {"id": len(spans), "parent": parent, "kind": kind,
                "name": name, "start": start, "end": end,
                "self_s": self_time(start, end, children)}
        spans.append(span)
        return span["id"]

    passes = result["passes"]
    root = add(None, "workload", workload, passes[0]["start"],
               passes[-1]["end"], [(p["start"], p["end"]) for p in passes])
    for p in passes:
        qs = p["queries"]
        pid = add(root, "pass", f'{p["kind"]}#{p["idx"]}', p["start"],
                  p["end"], [(q["start"], q["end"]) for q in qs])
        for q in qs:
            js = jobs.get((p["idx"], q["name"]), [])
            phases = _phases(p["kind"], q)
            qid = add(pid, "query", q["name"], q["start"], q["end"],
                      [(a, b) for _, a, b in phases]
                      + [(j["start"], j["end"]) for j in js])
            for kind, a, b in phases:
                add(qid, kind, q["name"], a, b)
            for j in js:
                add(qid, "job", f'job {j["id"]} ({j["phase"]})', j["start"],
                    j["end"])
    return spans


def pass_layers(p, jobs, cpus, families):
    """Per-layer figures of one traced pass."""
    qs = p["queries"]
    wall = sum(q["end"] - q["start"] for q in qs)
    pj = [j for q in qs for j in jobs.get((p["idx"], q["name"]), [])]
    cpu_s = sum(j["cpu_ns"] for j in pj) / 1e9
    m = {
        "catalyst.plan_s": sum(q["planned"] - q["built"] for q in qs),
        "operators.build_s": sum(q["built"] - q["start"] for q in qs),
        "operators.build_jobs": sum(j["phase"] == "build" for j in pj),
        "sink.exec_s": sum(q["end"] - q["planned"] for q in qs),
        "Tables.scan_bytes": sum(j["input_bytes"] for j in pj),
        "Tables.scan_records": sum(j["input_records"] for j in pj),
        "scheduler.jobs": len(pj),
        "scheduler.stages": sum(j["stages"] for j in pj),
        "scheduler.tasks": sum(j["tasks"] for j in pj),
        "scheduler.driver_gap_s": sum(
            self_time(q["start"], q["end"],
                      [(j["start"], j["end"])
                       for j in jobs.get((p["idx"], q["name"]), [])])
            for q in qs),
        "shuffle.write_bytes": sum(j["shuffle_write"] for j in pj),
        "shuffle.read_bytes": sum(j["shuffle_read"] for j in pj),
        "shuffle.spill_bytes": sum(j["spill"] for j in pj),
        "executor.cpu_s": cpu_s,
        "executor.run_s": sum(j["run_ms"] for j in pj) / 1e3,
        "executor.cpu_util": cpu_s / (wall * cpus) if wall > 0 else 0.0,
        "driver.result_bytes": sum(j["result_bytes"] for j in pj),
        "materialize.block_bytes": p["block_bytes"],
        "materialize.held_rdds": sum(q.get("held_rdds", 0) for q in qs),
        "materialize.held_bytes": sum(q.get("held_bytes", 0) for q in qs),
        "ArtifactCache.builds": sum(q["artifact_builds"] for q in qs),
        "ArtifactCache.hits": sum(q["artifact_hits"] for q in qs),
        "jvm.gc_s": p["gc_s"],
    }
    for f in families:
        mine = [q for q in qs if q["family"] == f]
        m[f"{f}.build_s"] = sum(q["built"] - q["start"] for q in mine)
        m[f"{f}.wall_s"] = sum(q["end"] - q["start"] for q in mine)
    return m


def pass_seconds(p):
    """A pass's timed seconds: its queries' walls, without the untimed
    release (and output dump) between them."""
    return sum(q["end"] - q["start"] for q in p["queries"])


def steady_times(passes):
    """pass_s, the median of the passes' timed seconds, and
    query_geomean_s, the geometric mean over queries of each query's median
    time: a short query weighs as much as a long one."""
    per_query = {}
    for p in passes:
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append(q["end"] - q["start"])
    return {
        "pass_s": statistics.median(map(pass_seconds, passes)),
        "query_geomean_s": math.exp(statistics.fmean(
            math.log(max(statistics.median(v), 1e-9))
            for v in per_query.values())),
    }


def layer_metrics(result, cpus, families):
    """Medians over traced steady passes, plus first-pass and diagnostic
    figures."""
    jobs = jobs_by_query(result)
    passes = result["passes"]
    first = passes[0]
    traced = [p for p in passes if p["kind"] == "steady" and p["traced"]]
    plain = [p for p in passes if p["kind"] == "steady" and not p["traced"]]
    count = [p for p in passes if p["kind"] == "count"]
    per_pass = [pass_layers(p, jobs, cpus, families) for p in traced]
    m = {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}
    f = pass_layers(first, jobs, cpus, families)
    for k in ("operators.build_s", "scheduler.jobs", "scheduler.driver_gap_s",
              "executor.cpu_s", "ArtifactCache.builds", "ArtifactCache.hits"):
        m[f"first.{k}"] = f[k]
    m["ArtifactCache.store_bytes"] = first["store_bytes"]
    m["trace.overhead_frac"] = (
        statistics.median(map(pass_seconds, traced))
        / statistics.median(map(pass_seconds, plain)) - 1.0)
    m["legacy.count_pass_s"] = pass_seconds(count[0])
    m.update(steady_times(plain), start_s=result["start_s"])
    return m
