"""Folds a run's operations, spans, Spark jobs and streaming progress into
the benchmark's metrics.

End-to-end metrics come from the operations alone. Per-layer metrics come
from the traced run: time metrics are means per operation of the kind the
layer serves (query, drain or batch); Spark metrics are means per
operation over the jobs attributed to it.
"""

from __future__ import annotations

import statistics

from perfbench.trace import GROUP_PREFIX

MB = 2 ** 20

_RATIOS = {"spark.core_util", "sinks.write_amp"}


def unit(name: str) -> str:
    """Unit of a metric, from its name."""
    name = name.removeprefix("traced.")
    if name == "ops_per_s":
        return "1/s"
    if name in _RATIOS:
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.startswith("op_s."):
        return "s"
    return "count"


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(run, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    ok = [o for o in run.ops if o.ok]
    # latency is per request: a batch or a query; a streaming drain is
    # not one, and counts in pass_s and ops_per_s only
    latency = [o.dur for o in ok if o.kind != "drain"]
    by_name: dict[tuple[str, str], list[float]] = {}
    for o in ok:
        by_name.setdefault((o.kind, o.name), []).append(o.dur)
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "op_s.p50": quantile(latency, 0.5),
        "op_s.p90": quantile(latency, 0.9),
        "ops_per_s": len(ok) / run.wall if run.wall else 0.0,
        # one pass with each operation once, at its median duration
        "pass_s": sum(statistics.median(v) for v in by_name.values()),
    }


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(jobs, ops_by_rid: dict, op_spans: list) -> tuple[dict, int]:
    """Assign each job to (rid, phase). A tagged job carries its operation
    in its job group. An untagged one (a streaming micro-batch, or a job
    from an engine thread pool) goes to the single operation open at its
    submission; with several open, it stays unattributed."""
    out: dict[int, list] = {}
    unattributed = 0
    for job in jobs:
        g = job.group or ""
        if g.startswith(GROUP_PREFIX):
            rid_s, phase = g[len(GROUP_PREFIX):].split(":")
            rid = int(rid_s)
        else:
            open_ = [sp.rid for sp in op_spans if sp.start <= job.submit <= sp.end]
            if len(open_) != 1:
                unattributed += 1
                continue
            rid = open_[0]
            op = ops_by_rid.get(rid)
            c = op.construct if op else None
            phase = "construct" if c and c[0] <= job.submit <= c[1] else "exec"
        if rid in ops_by_rid:
            out.setdefault(rid, []).append((phase, job))
    return out, unattributed


def per_layer(run, jobs, cores: int, spans, drains) -> dict[str, float]:
    """Per-layer metrics of a traced run; ``drains`` holds each drain's
    micro-batch progress records."""
    ops = run.ops
    n = len(ops) or 1
    lo, hi = run.window
    jobs = [j for j in jobs if lo <= j.submit <= hi]
    spans = [s for s in spans if lo <= s.start <= hi]
    by_rid = {o.rid: o for o in ops}
    op_spans = [s for s in spans if s.name == "op"]
    attributed, unattributed = attribute(jobs, by_rid, op_spans)

    def span_sum(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name)

    def span_count(name: str) -> int:
        return sum(1 for s in spans if s.name == name)

    def mean_over(kind: str, total: float) -> float:
        k = sum(1 for o in ops if o.kind == kind)
        return total / k if k else 0.0

    query_ops = [o for o in ops if o.construct is not None]
    nq = len(query_ops) or 1
    construct_jobs = 0
    construct_job_s = 0.0
    for o in query_ops:
        cj = [j for ph, j in attributed.get(o.rid, []) if ph == "construct"]
        construct_jobs += len(cj)
        construct_job_s += _union(((j.submit, j.end) for j in cj), *o.construct)
    construct_s = span_sum("plans.construct")

    tasks = [t for pairs in attributed.values() for _ph, j in pairs for t in j.tasks]
    all_tasks = [t for j in jobs for t in j.tasks]
    queue = [min(t[0] for t in j.tasks) - j.submit for j in jobs if j.tasks]
    max_task = [
        max((t[1] for _ph, j in pairs for t in j.tasks), default=0.0)
        for pairs in attributed.values()
    ]
    wall = hi - lo

    batch = [o for o in ops if o.kind == "batch"]
    validate_s = span_sum("sources.validate_files")
    upsert_s = span_sum("sinks.upsert_parquet")
    move_s = span_sum("sinks.move_object")
    audit_s = span_sum("sinks.audit")
    # bytes the batch's own tasks wrote (target files, staging) per byte
    # of the files that landed
    amps = [sum(t[7] for _ph, j in attributed.get(o.rid, []) for t in j.tasks)
            / o.extra["input_bytes"] for o in batch if o.extra]

    nd = len(drains) or 1
    last_state = [p[-1]["state"] if p else [] for p in drains]
    return {
        "plans.construct_s": construct_s / nq if query_ops else 0.0,
        "plans.construct_jobs": construct_jobs / nq if query_ops else 0.0,
        "plans.driver_s": (construct_s - construct_job_s) / nq if query_ops else 0.0,
        "plans.exec_s": span_sum("plans.exec") / nq if query_ops else 0.0,
        "spark.jobs": sum(len(v) for v in attributed.values()) / n,
        "spark.task_s": sum(t[1] for t in tasks) / n,
        "spark.max_task_s": statistics.mean(max_task) if max_task else 0.0,
        "spark.shuffle_write_mb": sum(t[4] for t in tasks) / MB / n,
        "spark.shuffle_read_mb": sum(t[3] for t in tasks) / MB / n,
        "spark.spill_mb": sum(t[5] for t in tasks) / MB / n,
        "spark.gc_s": sum(t[2] for t in tasks) / n,
        "spark.core_util": sum(t[1] for t in all_tasks) / (wall * cores) if wall else 0.0,
        "spark.queue_s": statistics.mean(queue) if queue else 0.0,
        "spark.failed_tasks": float(sum(t[6] for t in all_tasks)),
        "spark.unattributed_jobs": float(unattributed),
        "catalog.load_table_s": span_sum("catalog.load_table") / n,
        "catalog.load_table_calls": span_count("catalog.load_table") / n,
        "sources.validate_s": mean_over("batch", validate_s),
        "sources.files_rejected": mean_over(
            "batch", sum(o.extra.get("rejected", 0) for o in batch if o.extra)),
        "runner.self_s": mean_over(
            "batch", sum(o.dur for o in batch) - validate_s - upsert_s - move_s - audit_s),
        "sinks.upsert_s": mean_over("batch", upsert_s),
        "sinks.write_amp": statistics.mean(amps) if amps else 0.0,
        "sinks.target_rows": float(run.layer.get("sinks.target_rows", 0)),
        "sinks.move_s": mean_over("batch", move_s),
        "sinks.audit_s": mean_over("batch", audit_s),
        "streaming.drain_s": span_sum("streaming.drain") / nd if drains else 0.0,
        "streaming.batches": sum(len(p) for p in drains) / nd,
        "streaming.add_batch_s": sum(
            r["duration_ms"].get("addBatch", 0) for p in drains for r in p) / 1000 / nd,
        "streaming.state_rows": sum(s["rows"] for st in last_state for s in st) / nd,
        "streaming.state_mb": sum(s["bytes"] for st in last_state for s in st) / MB / nd,
        "streaming.state_commit_s": sum(
            s["commit_ms"] for p in drains for r in p for s in r["state"]) / 1000 / nd,
        "resources.release_s": span_sum("resources.release_plan") / n,
    }
