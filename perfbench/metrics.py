"""Metric definitions and how each is computed from a phase's ops.

``END_TO_END`` and ``PER_LAYER`` are the single source of every metric's
name, unit and direction; ``tests/test_benchmark_json.py`` holds
BENCHMARK.json to them.
"""

from __future__ import annotations

import statistics

from .stats import summarize, union_length

# name -> (unit, better, bound)
# Bounds: 0.25, the largest BENCHMARK.json admits. Run-to-run spread
# follows the host's steal time: on a 4-vCPU VM, interactive runs with
# 4-8 % steal read 5-15 % slower than runs under 2 %, and a dedup rep
# under 11 % steal took twice as long as one under 1 %.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "adhoc_p50_ms": ("ms", "lower", 0.25),
    "adhoc_tail_ms": ("ms", "lower", 0.25),
    "stmts_per_s": ("1/s", "higher", 0.25),
}

# name -> (unit, better)
PER_LAYER = {
    "setup.cold_s": ("s", "lower"),
    "setup.spark_s": ("s", "lower"),
    "setup.psql_session_s": ("s", "lower"),
    "setup.declare_keys_s": ("s", "lower"),
    "setup.warmup_s": ("s", "lower"),
    "parse.ms": ("ms", "lower"),
    "compiler.compose_ms": ("ms", "lower"),
    "compiler.self_ms": ("ms", "lower"),
    "compiler.py4j_calls": ("count", "lower"),
    "plan_cache.hit_ratio": ("ratio", "higher"),
    "plan_cache.lookup_ms": ("ms", "lower"),
    "catalyst.plan_ms": ("ms", "lower"),
    "catalyst.exchanges": ("count", "lower"),
    "catalyst.broadcasts": ("count", "higher"),
    "scheduler.jobs": ("count", "lower"),
    "scheduler.stages": ("count", "lower"),
    "scheduler.skipped_stages": ("count", "higher"),
    "scheduler.tasks": ("count", "lower"),
    "exec.ms": ("ms", "lower"),
    "exec.task_ms": ("ms", "lower"),
    "exec.gc_ms": ("ms", "lower"),
    "exec.input_rows": ("count", "lower"),
    "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.spill_mb": ("MB", "lower"),
    "fetch.ms": ("ms", "lower"),
    "fetch.rows": ("count", "lower"),
    "client.self_ms": ("ms", "lower"),
    "memory.peak_rss_mb": ("MB", "lower"),
    "text.quality_ms": ("ms", "lower"),
    "dedup.signature_ms": ("ms", "lower"),
    "dedup.pairs_ms": ("ms", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.dup_pairs": ("count", "higher"),
    "dedup.pair_yield": ("ratio", "higher"),
    "dedup.docs_per_s": ("1/s", "higher"),
    "graph.components_ms": ("ms", "lower"),
    "arrow.signature_ms": ("ms", "lower"),
    "arrow.bytes_to_python_mb": ("MB", "lower"),
    "write.ms": ("ms", "lower"),
    "write.mb": ("MB", "lower"),
    "write.files": ("count", "lower"),
    "trace.overhead_adhoc_p50_ms": ("ms", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}


def end_to_end(ops: list[dict], setup_s: float, peak_rss_mb: float,
               docs_per_rep: int) -> tuple[dict, dict]:
    """The end-to-end metrics of one phase, and the report-only figures
    (rerun latency, sample counts, tail percentiles, docs/s, out MB)."""
    adhoc = summarize([r["ms"] for r in ops if r["kind"] == "adhoc" and r.get("ok")])
    rerun = summarize([r["ms"] for r in ops if r["kind"] == "rerun" and r.get("ok")])
    done = [r for r in ops if r.get("ok")]
    busy_s = sum(r["ms"] for r in ops) / 1000.0
    values = {
        "setup_s": setup_s,
        "adhoc_p50_ms": adhoc["p50"],
        "adhoc_tail_ms": adhoc["tail"],
        "stmts_per_s": len(done) / busy_s,
    }
    e2e = {k: {"value": values[k], "unit": END_TO_END[k][0]} for k in END_TO_END}
    extra = {
        "adhoc_samples": adhoc["n"], "adhoc_tail_pct": adhoc["tail_pct"],
        "rerun_p50_ms": rerun["p50"], "rerun_tail_ms": rerun["tail"],
        "rerun_samples": rerun["n"], "rerun_tail_pct": rerun["tail_pct"],
        "timed_phase_s": busy_s,
        # not gated: the JVM's heap growth moved it by ~30 % between
        # otherwise identical runs
        "peak_rss_mb": peak_rss_mb,
    }
    if docs_per_rep:
        extra["docs_per_s"] = docs_per_rep * len(done) / busy_s
        extra["out_mb"] = statistics.fmean(r["out_mb"] for r in done) if done else None
    return e2e, extra


def _mean(vals) -> float:
    vals = [v for v in vals if v is not None]
    return statistics.fmean(vals) if vals else 0.0


def layer_metrics(ops: list[dict], tracer) -> dict[str, float]:
    """Per-op means of the layer numbers of a traced phase.

    Compose figures come from ``adhoc`` ops (plan-cache misses), lookup
    figures from ``rerun`` ops; Spark figures from every op."""
    good = [r for r in ops if "error" not in r]
    adhoc = [r for r in good if r["kind"] == "adhoc"]
    rerun = [r for r in good if r["kind"] == "rerun"]
    fetched = [r for r in good if "rows" in r]
    selfs = tracer.self_times_by_op()

    def self_ms(rs, name):
        return _mean(selfs.get((r["op"], name), 0.0) * 1000.0 for r in rs)

    jobs_by_op: dict[int, list] = {}
    for s in tracer.spans:
        if s["name"] == "job":
            jobs_by_op.setdefault(s["op"], []).append((s["start"], s["end"]))
    m = {
        "parse.ms": _mean(r["parse_ms"] for r in adhoc),
        "compiler.compose_ms": _mean(r["compose_ms"] - r["parse_ms"] for r in adhoc),
        "compiler.self_ms": self_ms(adhoc, "compose"),
        "compiler.py4j_calls": _mean(r["py4j_calls"] for r in adhoc),
        "plan_cache.hit_ratio": sum(1 for r in rerun if r["hit"]) / len(rerun) if rerun else 0.0,
        "plan_cache.lookup_ms": _mean(r["compose_ms"] for r in rerun),
        "catalyst.plan_ms": self_ms(fetched, "catalyst"),
        "catalyst.exchanges": _mean(r.get("exchanges") for r in fetched),
        "catalyst.broadcasts": _mean(r.get("broadcasts") for r in fetched),
        "scheduler.jobs": _mean(len(jobs_by_op.get(r["op"], ())) for r in good),
        "scheduler.stages": _mean(r["stages"] for r in good),
        "scheduler.skipped_stages": _mean(r["skipped_stages"] for r in good),
        "scheduler.tasks": _mean(r["tasks"] for r in good),
        "exec.ms": _mean(union_length(jobs_by_op.get(r["op"], [])) * 1000.0 for r in good),
        "exec.task_ms": _mean(r["task_ms"] for r in good),
        "exec.gc_ms": _mean(r["gc_ms"] for r in good),
        "exec.input_rows": _mean(r["input_rows"] for r in good),
        "exec.shuffle_write_mb": _mean(r["shuffle_write_mb"] for r in good),
        "exec.spill_mb": _mean(r["spill_mb"] for r in good),
        "fetch.ms": self_ms(fetched, "action"),
        "fetch.rows": _mean(r["rows"] for r in fetched),
        "client.self_ms": self_ms(good, "op"),
    }
    return m
