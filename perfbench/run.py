"""Closed-loop benchmark of psql-spark: one client, one workload, one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One single-threaded client issues one
statement at a time against Spark ``local[<nproc>]`` and waits for the
result before it issues the next. Every result is checked off the clock.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is the full report (run metadata, sample counts, the tail percentile
used, the figures that are not gated metrics); the report is also
written under ``perfbench/.state/results/``. README.md describes the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE = os.path.join(BENCH_DIR, ".state")

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workload import WORKLOADS, Bench  # noqa: E402

SETUPS = 3


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def _loadavg() -> float:
    return float((_read("/proc/loadavg") or "0").split()[0])


def _cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user … steal)."""
    return [int(x) for x in (_read("/proc/stat") or "cpu 0").splitlines()[0].split()[1:9]]


def _process_age_s() -> float:
    """Seconds since this process started (from /proc/self/stat)."""
    fields = (_read("/proc/self/stat") or "").rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def _vm_hwm_mb(pid: int) -> float:
    for line in (_read(f"/proc/{pid}/status") or "").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _isolate_environment() -> None:
    """Keep every file the run writes inside the checkout, ship the
    package to Python workers, and drop inherited engine switches."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # Python workers unpickle operator closures that import the package
    # by name; they inherit PYTHONPATH through the JVM's environment, so
    # the result does not depend on the working directory
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")


def _measure(b, args, meta: dict) -> tuple[dict, list[dict], dict]:
    """Set-ups, timed phase and checks; returns the report, every op
    (warm-up ones included) and the end-to-end metrics."""
    from perfbench.metrics import PER_LAYER, end_to_end, layer_metrics

    # the first set-up counts from process start (interpreter and imports
    # included), less the input generation; its warm-up is the untimed
    # warm rounds, which the timed phase follows directly
    parts = b.setup(warm_round=True)
    setups = [{"total_s": _process_age_s() - meta["datagen_s"], **parts}]
    jvm_pid = b.spark.sparkContext._gateway.proc.pid

    tracer = None
    if args.trace:
        from perfbench.spans import Tracer

        tracer = Tracer()
    all_ops = b.phase(tracer)
    peak_rss_mb = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
    # the other set-ups restart the Spark session in the same JVM after
    # the timed phase, so no restart sits between the warm rounds and it
    for _ in range(SETUPS - 1):
        b.stop_spark()
        t0 = time.perf_counter()
        parts = b.setup()
        setups.append({"total_s": time.perf_counter() - t0, **parts})
    setup_s = statistics.median(s["total_s"] for s in setups)
    ops = [r for r in all_ops if not r["traced"]]
    t0 = time.perf_counter()
    kept = b.check(ops, None)
    meta["check_s"] = time.perf_counter() - t0
    e2e, extra = end_to_end(ops, setup_s, peak_rss_mb, b.docs_per_rep)
    report: dict = {"meta": meta, "setups": setups, "end_to_end": e2e, "extra": extra}
    all_ops = b.warm_ops + all_ops

    if tracer is not None:
        tops = [r for r in all_ops if r["traced"]]
        t0 = time.perf_counter()
        b.check(tops, kept)
        meta["check_s"] += time.perf_counter() - t0
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(layer_metrics(tops, tracer))
        layers.update({f"setup.{k}": v for k, v in setups[-1].items() if k != "total_s"})
        layers["setup.cold_s"] = setups[0]["total_s"]
        layers["memory.peak_rss_mb"] = peak_rss_mb
        traced_e2e, traced_extra = end_to_end(tops, setup_s, peak_rss_mb, b.docs_per_rep)
        if b.kind == "dedup":
            layers.update(b.dedup_layers())
            layers["dedup.docs_per_s"] = traced_extra["docs_per_s"]
        base, traced = e2e["adhoc_p50_ms"]["value"], traced_e2e["adhoc_p50_ms"]["value"]
        if base is not None and traced is not None:
            layers["trace.overhead_adhoc_p50_ms"] = traced - base
            layers["trace.overhead_pct"] = 100.0 * (traced - base) / base
        os.makedirs(os.path.join(STATE, "spans"), exist_ok=True)
        span_file = os.path.join(STATE, "spans", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(span_file)
        report["traced"] = {"end_to_end": traced_e2e, "extra": traced_extra,
                            "span_file": span_file}
        report["per_layer"] = {k: {"value": layers[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
    return report, all_ops, e2e


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate_environment()
    import duckdb
    import pyspark

    import duckdb_psql_spark  # noqa: F401 — fails outside a full checkout

    from perfbench import datagen
    from perfbench.metrics import END_TO_END
    from perfbench.stats import failed_frac

    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "boot_id": _read("/proc/sys/kernel/random/boot_id"),
        "loadavg_1m_before": _loadavg(),
        "cpu_ticks_before": _cpu_ticks(),
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }
    # the inputs of every workload are generated by the first run in a
    # checkout and reused while their fingerprint matches; generation is
    # not set-up time
    t0 = time.perf_counter()
    meta["inputs"] = {}
    for scale in sorted({w["scale"] for w in WORKLOADS.values()}):
        fp, generated = datagen.ensure(os.path.join(STATE, "data", f"scale{scale:g}"), scale)
        meta["inputs"][f"scale{scale:g}"] = {"generated_now": generated, "files": fp}
    meta["datagen_s"] = time.perf_counter() - t0

    b = Bench(args.workload, args.seed, args.seconds, STATE)
    try:
        report, all_ops, e2e = _measure(b, args, meta)
    finally:
        b.shutdown()

    raised = sum(1 for r in all_ops if "error" in r)
    wrong = sum(1 for r in all_ops if "error" not in r and not r.get("ok"))
    meta["loadavg_1m_after"] = _loadavg()
    # share of CPU time the hypervisor gave to others during the run
    ticks = [after - before for before, after in zip(meta.pop("cpu_ticks_before"), _cpu_ticks())]
    meta["steal_pct"] = 100.0 * ticks[7] / max(sum(ticks), 1)
    report["failed_frac"] = failed_frac(len(all_ops), raised, wrong)
    report["errors"] = (b.errors + [r["error"] for r in all_ops if "error" in r])[:20]
    report["ops"] = [[r.get("name", "copy"), "warm-up" if r.get("warmup") else r["kind"],
                      r["traced"], r["ms"]] for r in all_ops]
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(STATE, "results", name), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    metrics = report["per_layer"] if args.trace else {k: e2e[k] for k in END_TO_END}
    print(json.dumps({
        "correct": raised + wrong == 0,
        "attempted": len(all_ops),
        "failed": raised + wrong,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
