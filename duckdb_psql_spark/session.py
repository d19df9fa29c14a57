"""User-facing entry point: ``PsqlSession(spark).sql(text) -> DataFrame``.

The Spark analogue of the reference's extension registration
(``/root/reference/src/psql_extension.cpp:17-25,129-132``): where the
reference hooks DuckDB's parser/binder, we wrap a ``SparkSession`` and
compile PSQL text to DataFrames. Non-PSQL statements pass through to
Spark SQL (with path-literal and FROM-first convenience resolution),
matching the reference's pass-through behavior
(``/root/reference/test/sql/psql.test:5-12``).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from .compiler import Compiler


class PsqlSession:
    """A PSQL compiler bound to a SparkSession."""

    def __init__(self, spark: SparkSession, *, materialize_tables: bool = False):
        self.spark = spark
        # DuckDB (standard SQL) treats backslashes in string literals
        # literally; Spark's default parser treats them as escapes, so
        # '\w' would silently become 'w' in regexp patterns. Flip the
        # session to standard literal semantics for dialect parity.
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
        # DuckDB's map_concat overwrites earlier keys with later ones
        # (probe: map_concat(map([1],['a']), map([1],['c'])) = {1:'c'});
        # Spark errors on duplicate keys unless LAST_WIN — same winner.
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # DuckDB-named similarity functions Spark lacks (damerau_levenshtein,
        # jaro[_winkler]_similarity) — Arrow-batched pandas UDFs
        from .functions.pyfuncs import (
            register_math_udfs,
            register_similarity_udfs,
            register_textops_udfs,
            register_unicode_udfs,
        )

        register_similarity_udfs(spark)
        register_unicode_udfs(spark)
        register_math_udfs(spark)
        register_textops_udfs(spark)
        self._compiler = Compiler(spark, materialize_tables=materialize_tables)

    def sql(self, text: str) -> DataFrame:
        """Compile a PSQL (or plain SQL) statement to a DataFrame."""
        return self._compiler.compile_statement(text)

    def explain(self, text: str, mode: str = "formatted") -> None:
        """Explain the physical plan Catalyst chose for a PSQL statement."""
        self.sql(text).explain(mode)


def _local_scratch_dir() -> str:
    """Scratch dir for shuffle/spill files: tmpfs if present, else /tmp.

    Overridable via SPARK_GRAFT_LOCAL_DIR (e.g. to force disk when RAM
    is tight — tmpfs spill consumes memory)."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        path = os.path.join(shm, "spark-graft-local")
        try:
            os.makedirs(path, exist_ok=True)
            return path
        except OSError:
            pass
    return "/tmp"


def _driver_java_options() -> str:
    """Driver JVM flags: user-supplied (env) + version-gated GC-log silence."""
    user = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTIONS", "").strip()
    major = 0
    try:
        with open(os.path.join(os.environ.get("JAVA_HOME", "/nonexistent"), "release")) as f:
            import re as _re

            m = _re.search(r'JAVA_VERSION="(\d+)', f.read())
            if m:
                major = int(m.group(1))
    except OSError:
        pass
    silencer = "-Xlog:gc+alloc=off" if major >= 9 else ""
    return f"{user} {silencer}".strip()


# Below this total input size, per-stage scheduling overhead (~85 ms/job
# measured on local[32]) dominates actual data processing, and Spark's
# cluster-sized defaults (AQE stage-wave re-planning, wide shuffles,
# 128 MB scan splits) actively hurt. Single-node engines size their
# parallelism to the data; this is the Spark-session equivalent.
# 64 MB boundary: the single-reduce-partition tiny profile measured a
# clear win at 17 MB (sf0.1) but serializes the reduce side badly at
# 170 MB (sf1: q21 12.6s tiny vs ~3s scale profile) — the crossover
# sits between, and 64 MB keeps both committed scale points on their
# measured-best profile.
TINY_INPUT_BYTES = 64 * 1024 * 1024

# Above this, reduce parallelism doubles (see tune_for_input).
LARGE_INPUT_BYTES = 1024 * 1024 * 1024

_SCALE_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
}

_TINY_DEFAULTS = {
    # One planning wave: AQE's per-exchange materialize/re-plan barriers
    # cost more than they save when every shuffle is < a few MB.
    "spark.sql.adaptive.enabled": "false",
    # ONE reduce task moves tens of MB fine; more just multiplies
    # task-launch overhead, and a single-partition agg output lets global
    # sorts skip the range-exchange sampling pass entirely. Sweep
    # evidence: FLOOR_ANALYSIS.md, "Round-5 second pass" (p=1 beat p=4
    # in both interleaved reps). (At >= TINY_INPUT_BYTES AQE coalesces at
    # runtime instead.)
    "spark.sql.shuffle.partitions": "1",
    # Broadcast every dimension (all < 8 MB at tiny SF) so join plans are
    # shuffle-free; keep the fact table itself out of broadcast range.
    "spark.sql.autoBroadcastJoinThreshold": str(8 * 1024 * 1024),
    # Split the fact-table scan so all cores participate (an 11 MB file
    # is a single 128 MB-split task otherwise).
    "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
}


def tune_for_input(spark: SparkSession, data_dir: str) -> int:
    """Size runtime session confs to the actual input footprint.

    Measures ``data_dir`` once (local filesystem walk) and flips the four
    runtime-settable parallelism confs to the tiny-input profile when the
    whole dataset is smaller than ``TINY_INPUT_BYTES``; restores the
    scale profile (AQE on — measured faster at sf1+, see
    BENCH_sf1/sf10.json) otherwise. Config sweep evidence:
    scripts/bench_tiny_sf.py / bench_tiny_sf2.py — the tiny profile takes
    the sf0.1 headline total from ~8.6s to ~6s; each knob was measured
    individually and jointly. Returns the measured byte total.
    """
    total = 0
    for root, _dirs, files in os.walk(data_dir):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    if total < TINY_INPUT_BYTES:
        profile = dict(_TINY_DEFAULTS)
    else:
        profile = dict(_SCALE_DEFAULTS)
        # reduce-partition count scales with the data, and the two
        # committed sweeps go OPPOSITE ways: at sf1 (~170 MB) cores-sized
        # beats 2x cores 5.5/6.8s vs 8.5/8.8s, at sf10 (~2.3 GB) 2x cores
        # beats cores-sized 23.0/25.8s vs 25.1/35.0s (interleaved A/Bs,
        # scripts/bench_shuffle_conf.py). 1 GiB is the boundary between
        # the two measured points.
        cores = spark.sparkContext.defaultParallelism
        big = total >= LARGE_INPUT_BYTES
        profile["spark.sql.shuffle.partitions"] = str(
            max((2 * cores) if big else cores, 4)
        )
    for k, v in profile.items():
        spark.conf.set(k, v)
    # remember the dataset-level choice so statements whose inputs the
    # per-statement tuner can't see (views, catalog tables, attached
    # names — no path literal in their own text) can RESTORE it instead
    # of inheriting whatever profile the previous statement set: a big
    # view query after a tiny DECLARE must not run its whole shuffle
    # through the tiny band's single reduce partition (measured +40% on
    # a 60 M-row view agg at sf10, and the same inheritance sized the
    # CLUSTER DECLARED KEYS twins before that default went bytes-derived)
    _DATASET_PROFILES[spark] = dict(profile)
    return total


# dataset-level conf profile per live SparkSession, weakly keyed
# (ADVICE r12: id()-keyed strong refs pinned every stopped session —
# and its JVM-side wrapper — for the process lifetime; the weak key
# also removes the id()-reuse hazard the old stored-session guard
# existed for)
_DATASET_PROFILES: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def restore_dataset_profile(spark: SparkSession) -> bool:
    """Re-apply the profile ``tune_for_input`` chose for this session.

    Returns False (and changes nothing) if ``tune_for_input`` never ran
    for this session — callers then keep the current confs."""
    profile = _DATASET_PROFILES.get(spark)
    if profile is None:
        return False
    for k, v in profile.items():
        spark.conf.set(k, v)
    return True


# Statement-size bands for tune_for_statement. Sweep evidence
# (BENCH_MIDBAND_sf1_r7.json + the probe runs recorded in SURVEY §8.9):
# at sf1 the 128 MB default split made the 125 MB lineitem a SINGLE scan
# task on 32 cores, and cluster-sized reduce parallelism + AQE's
# per-exchange re-plan barrier taxed every sub-second statement ~2x.
STMT_TINY_BYTES = 8 * 1024 * 1024
STMT_SMALL_BYTES = TINY_INPUT_BYTES  # 64 MB


def tune_for_statement(spark: SparkSession, stmt_bytes: int) -> None:
    """Size runtime parallelism confs to ONE statement's input footprint.

    The dataset-level ``tune_for_input`` picks a global profile, but a
    208 MB dataset still contains 25 MB statements (q13 reads only
    customer+orders) that drown in cluster-sized parallelism. Bands,
    each interleave-swept (scripts/bench_midband.py + SURVEY §8.9
    probes; sf1 q13 1.15→0.75s, q_union 0.33→0.15s; sf10 q13
    1.23→0.91s, q_union 0.59→0.37s; sf0.1/sf10 headline profiles
    unchanged by construction):

    * < 8 MB — everything broadcastable: AQE off, 1 reduce partition,
      2 MB splits (the sf0.1-winning tiny profile). The boundary moved
      24 MB → 8 MB in round 10: a 10-round interleaved full-headline
      A/B at sf0.1 (BENCH_STMT_TINY_CUT_AB_sf0.1.json) has the 8 MB cut
      winning 7/10 rounds, mean −0.30 s (−6.4%) — one reduce partition
      serializes the window/join sorts of the 10.8 MB lineitem
      statements, while sub-8 MB statements still prefer the one-wave
      plan. A UNIFORM p=8 tiny band was also measured and LOSES
      (4.80/5.01 vs 4.37/4.82) — the small-statement regression
      outweighs the window win, hence the byte-banded split;
    * < 64 MB — same but 8 reduce partitions (a 27 MB orders side is
      past the broadcast threshold; 1 partition would serialize that
      join — measured 3x regression on q_left_join_nulls);
    * < 1 GiB — AQE on, cores-sized reduce partitions, scan splits
      sized to give every core a task (bytes/cores clamped to
      [8 MB, 128 MB]);
    * >= 1 GiB — the large-input scale profile (2x-cores partitions,
      128 MB splits) exactly as ``tune_for_input`` sets it.

    Spark binds these confs when an action plans the query, not when
    the DataFrame is composed — with interleaved compose-then-run of
    several statements, the last-composed profile applies. Harness and
    bench paths compose and execute one statement at a time. The
    compiler skips this call when spark.psql.stmtTune=false.
    """
    if stmt_bytes <= 0:
        return
    mb = 1024 * 1024
    cores = spark.sparkContext.defaultParallelism
    if stmt_bytes < STMT_TINY_BYTES:
        profile = dict(_TINY_DEFAULTS)
    elif stmt_bytes < STMT_SMALL_BYTES:
        profile = dict(_TINY_DEFAULTS)
        profile["spark.sql.shuffle.partitions"] = "8"
    elif stmt_bytes < LARGE_INPUT_BYTES:
        profile = dict(_SCALE_DEFAULTS)
        profile["spark.sql.shuffle.partitions"] = str(max(cores, 4))
        profile["spark.sql.files.maxPartitionBytes"] = str(
            min(max(stmt_bytes // max(cores, 1), 8 * mb), 128 * mb)
        )
    else:
        profile = dict(_SCALE_DEFAULTS)
        profile["spark.sql.shuffle.partitions"] = str(max(2 * cores, 4))
    # never override the broadcast threshold per statement: the band
    # profiles agree within 2 MB anyway, and users/tests legitimately
    # pin it (e.g. -1 to force shuffle shapes in plan assertions)
    profile.pop("spark.sql.autoBroadcastJoinThreshold", None)
    for k, v in profile.items():
        spark.conf.set(k, v)


def default_spark(app_name: str = "duckdb-psql-spark", cpus: int | None = None) -> SparkSession:
    """A SparkSession tuned for this engine's workloads.

    Local testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    same configs apply per-executor. AQE handles runtime coalescing and
    skew joins; shuffle partitions default to the core count locally (at
    cluster scale, AQE coalesces from a deliberately high initial value).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # cores-sized by default; tune_for_input re-sizes by measured
        # input footprint (1 tiny / cores medium / 2x cores large —
        # the sf1 vs sf10 sweeps go opposite ways, see tune_for_input)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # prefer shuffled-hash over sort-merge: skips both sort passes.
        # Safe at scale: the planner only picks SHJ when one side's
        # per-partition build fits a local hash map (else it still sort-
        # merges), and AQE skew splitting bounds partition size. Measured
        # 1.8-1.9x on the sf10 TPC-H join shapes (q03/q05).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # shuffle/spill files on tmpfs when available: measured ~10% on
        # sf10 shuffle-heavy joins (q05 6.5->5.8s). Local-mode tuning
        # only — resource managers (YARN/K8s) override local dirs with
        # their own, so this is inert on a real cluster.
        .config("spark.local.dir", _local_scratch_dir())
        # GCLocker retry warnings print to STDOUT under memory pressure and
        # corrupt machine-read output (bench JSON lines); silence that one
        # unified-logging tag, keep everything else. Version-gated (-Xlog
        # is JDK9+ unified logging; a Java 8 JVM refuses to start on it)
        # and appended to caller-supplied options, not clobbering them.
        .config("spark.driver.extraJavaOptions", _driver_java_options())
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
