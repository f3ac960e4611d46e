"""Arithmetic of the benchmark's metrics: medians, the tail percentile,
failure accounting, interval unions and span self time, and the per-layer
aggregation of a traced run. Pure functions over the JVM's result file, so
they can be tested without Spark (see test_stats.py)."""

import statistics
from collections import defaultdict

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it:
    the k-th smallest of n samples with k = n - beyond. Returns
    (value, percentile, n, samples beyond it). With n <= beyond no
    percentile qualifies; the maximum is returned with 0 beyond."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return float("nan"), float("nan"), 0, 0
    if n <= beyond:
        return xs[-1], 100.0, n, 0
    k = n - beyond
    return xs[k - 1], 100.0 * k / n, n, beyond


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def account(records, failed_prefixes=()):
    """Failure accounting over step records of the timed passes.

    A step fails when it threw, when its output digest differed from the
    warm-up pass's, or when an output check failed for its name prefix.
    Returns (attempted, failed, ok_op_seconds, clean_pass_seconds), where
    only steps marked `op` and passes without a failed step enter the
    timing lists, so a failed operation never reaches a median."""
    steps = [r for r in records if r["step"] != "__pass__"]
    bad_passes, attempted, failed, op_secs = set(), 0, 0, []
    for r in steps:
        attempted += 1
        ok = r["ok"] and not any(r["step"].startswith(p) for p in failed_prefixes)
        if not ok:
            failed += 1
            bad_passes.add(r["pass"])
        elif r["op"]:
            op_secs.append(r["dur_s"])
    passes = [r["dur_s"] for r in records
              if r["step"] == "__pass__" and r["pass"] not in bad_passes]
    return attempted, failed, op_secs, passes


# Spans whose per-call durations are the `ops` layer's metrics.
OPS_SPANS = {
    "ops.dedup.pairs_s": "dedup.jaccardPairs",
    "ops.dedup.cc_s": "dedup.connectedComponents",
    "ops.dedup.anti_join_s": "dedup.antiJoin",
    "ops.dedup.band_index_write_s": "dedup.writeBandIndex",
    "ops.dedup.link_s": "dedup.linkAgainstIndex",
    "ops.pq.codebooks_s": "pq.codebooksFromRows",
    "ops.pq.encode_write_s": "pq.encode+write",
    "ops.pq.adc_topk_s": "pq.adcTopK",
    "functions.similarity.topk_lsh_s": "similarity.topKLsh",
}

KERNELS = ["kernels.shingles_ns_per_doc", "kernels.md5_band_keys_ns_per_doc",
           "kernels.pq_encode_ns_per_vec", "kernels.lsh_bucket_ns_per_vec"]

MB = 1024.0 * 1024.0


def _stage_index(result):
    """Stages by id (the last attempt wins) and jobs by group."""
    stages = {}
    for s in result.get("stages", []):
        stages[s["stage_id"]] = s
    jobs = defaultdict(list)
    for j in result.get("jobs", []):
        jobs[j.get("group")].append(j)
    return stages, jobs


def step_layers(trace, wall_s, rows, stages, jobs):
    """Scheduler, executor, shuffle and io figures of one step, from the
    jobs that ran under its job group."""
    js = jobs.get(trace, [])
    # a reused shuffle stage is listed again, skipped, by later jobs
    ss = [stages[i] for i in sorted({i for j in js for i in j["stage_ids"]}) if i in stages]
    ran = [s for s in ss if s["submit_ms"] >= 0 and s["complete_ms"] >= 0]
    stage_wall = union_length([(s["submit_ms"], s["complete_ms"]) for s in ran]) / 1e3
    run_s = sum(s["run_ms"] for s in ss) / 1e3
    return {
        "scheduler.jobs": len(js),
        "scheduler.stages": len(ran),
        "scheduler.tasks": sum(s["tasks"] for s in ss),
        "scheduler.stage_wall_s": stage_wall,
        "scheduler.driver_gap_s": max(0.0, wall_s - stage_wall),
        "executor.run_s": run_s,
        "executor.cpu_s": sum(s["cpu_ns"] for s in ss) / 1e9,
        "executor.gc_s": sum(s["gc_ms"] for s in ss) / 1e3,
        "shuffle.write_mb": sum(s["shuffle_write"] for s in ss) / MB,
        "shuffle.read_mb": sum(s["shuffle_read"] for s in ss) / MB,
        "shuffle.spill_mb": sum(s["spill_disk"] for s in ss) / MB,
        "shuffle.peak_exec_mem_mb": max([s["peak_exec_mem"] for s in ss] or [0]) / MB,
        "io.input_mb": sum(s["in_bytes"] for s in ss) / MB,
        "io.input_records": sum(s["in_records"] for s in ss),
        "io.output_mb": sum(s["out_bytes"] for s in ss) / MB,
        "io.output_records": sum(s["out_records"] for s in ss),
        "result_rows": max(rows, 0),
    }


def _phase_sums(records, intervals):
    """Catalyst phase seconds of the QueryExecutions whose phases started
    inside one of `intervals`."""
    out = defaultdict(float)
    for rec in records:
        for name, p in rec["phases"].items():
            if any(s <= p["start_ms"] <= e for s, e in intervals):
                out[name] += (p["end_ms"] - p["start_ms"]) / 1e3
    return out


def layers(result):
    """Per-layer metrics of a traced run, per pass (averaged over the traced
    passes) plus `ops` spans per call, and the per-step table."""
    stages, jobs = _stage_index(result)
    spans = result.get("spans", [])
    recs = [r for r in result["records"] if r["pass"] >= 0]
    traced = [r for r in recs if r["traced"] and r["step"] != "__pass__"]
    traced_passes = sorted({r["pass"] for r in traced})
    per_step, per_pass = [], []
    for p in traced_passes:
        totals = defaultdict(float)
        steps = [r for r in traced if r["pass"] == p]
        for r in steps:
            row = step_layers(r["trace"], r["dur_s"], r["rows"], stages, jobs)
            row.update(step=r["step"], wall_s=r["dur_s"], pass_=p)
            per_step.append(row)
            for k, v in row.items():
                if k.startswith(("scheduler.", "executor.", "shuffle.", "io.")):
                    totals[k] = max(totals[k], v) if k == "shuffle.peak_exec_mem_mb" else totals[k] + v
            totals["result_rows"] += row["result_rows"]
        ivs = [(r["start_ms"], r["start_ms"] + r["dur_s"] * 1e3) for r in steps]
        phases = _phase_sums(result.get("action_phases", []) + result.get("phases", []), ivs)
        for k in ("analysis", "optimization", "planning"):
            totals[f"catalyst.{k}_s"] = phases.get(k, 0.0)
        totals["queries.build_s"] = sum(
            (s["end_ms"] - s["start_ms"]) / 1e3 for s in spans
            if s["name"] == "queries.fn" and s["trace"].startswith(f"p{p}."))
        per_pass.append(totals)
    m = {k: statistics.mean(t[k] for t in per_pass) for k in (per_pass[0] if per_pass else {})}
    stage_wall = m.get("scheduler.stage_wall_s", 0.0)
    m["executor.cores_busy"] = m.get("executor.run_s", 0.0) / stage_wall if stage_wall else 0.0
    rows = m.pop("result_rows", 0.0)
    m["io.records_per_result"] = m.get("io.input_records", 0.0) / rows if rows else 0.0
    for metric, name in OPS_SPANS.items():
        durs = [(s["end_ms"] - s["start_ms"]) / 1e3 for s in spans if s["name"] == name]
        m[metric] = statistics.mean(durs) if durs else 0.0
    cc = [s for s in spans if s["name"] == "dedup.connectedComponents"]
    m["ops.dedup.cc_jobs"] = sum(
        1 for s in cc for j in jobs.get(s["trace"], [])
        if s["start_ms"] <= j["start_ms"] <= s["end_ms"])
    m["ops.dedup.pairs"] = result.get("counts", {}).get("ops.dedup.pairs", 0.0)
    links = [r["rows"] for r in traced if r["step"].startswith("index.link")]
    m["ops.dedup.link_pairs"] = statistics.mean(links) if links else 0.0
    for k in KERNELS:
        m[k] = result.get("kernels", {}).get(k, 0.0)
    return m, per_step


def ops_self_times(result):
    """Each `ops` span's self time: its duration minus the time jobs of its
    trace ran inside it, i.e. the driver-side part."""
    _, jobs = _stage_index(result)
    out = []
    for s in result.get("spans", []):
        if s["name"] in OPS_SPANS.values() or s["name"] == "queries.fn":
            ivs = [(j["start_ms"], j["end_ms"]) for j in jobs.get(s["trace"], [])]
            out.append((s["trace"], s["name"], (s["end_ms"] - s["start_ms"]) / 1e3,
                        self_time(s["start_ms"], s["end_ms"], ivs) / 1e3))
    return out
