"""The workloads: set-up, the closed op loop, and result checks.

* ``interactive_sf0.1`` — the 13 headline statements at scale 0.1. Each
  is issued once as new text (``adhoc``: a seeded filter literal makes it
  a plan-cache miss) and then re-issued once verbatim (``rerun``: a
  plan-cache hit).
* ``dedup_write_sf0.1`` — one ``copy (… |> quality_score |> where … |>
  dedup_canonical …) to '<dir>' (format parquet)`` per rep over the
  5 000 document corpus; each rep writes a fresh directory, so each is
  new text.

One client issues one op at a time; an op's latency runs from submitting
the text until the result has been fetched with ``toArrow()`` (for COPY,
until the write returns).
"""

from __future__ import annotations

import os
import random
import shutil
import time

WORKLOADS = {
    # rounds: the timed rounds a run makes. A run goes on with whole
    # rounds only while its ops have taken less than --seconds, which the
    # benchmark sets below the time of these rounds, so every run
    # measures the same mix of ops at the same stage of the JVM's warm-up.
    # Three rounds of the 13 statements put the median (rank 20 of 39)
    # and the tail (p74, rank 29) inside clusters of statements of like
    # latency; with two, the tail (p61, rank 16) sat on the gap between
    # two clusters and jumped across it from run to run. Dedup reps are
    # two because the run's time budget allows no more. warm_rounds:
    # untimed rounds before them (a cold round ran about twice as long as
    # a warm one).
    "interactive_sf0.1": {"kind": "olap", "scale": 0.1, "reruns": 1,
                          "rounds": 3, "warm_rounds": 1},
    "dedup_write_sf0.1": {"kind": "dedup", "scale": 0.1, "rounds": 2, "warm_rounds": 1},
}

# The declared PK/FK facts of bench.py: (table, column) primary keys and
# (table, column, referenced table, referenced column) foreign keys.
PRIMARY_KEYS = [
    ("region", "r_regionkey"), ("nation", "n_nationkey"),
    ("customer", "c_custkey"), ("supplier", "s_suppkey"),
    ("part", "p_partkey"), ("orders", "o_orderkey"),
]
FOREIGN_KEYS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]

# Warm-up: scan, broadcast join, aggregate and sort over tables and keys
# that no timed statement joins or groups on.
WARMUP = (
    "from '$SF/customer.parquet' |> as c join '$SF/supplier.parquet' as s "
    "on c.c_nationkey = s.s_nationkey |> select c_mktsegment, count() as n "
    "group by c_mktsegment |> order by c_mktsegment"
)

# quality_score thresholds the seed picks from for the dedup statement
DEDUP_THRESHOLDS = (0.80, 0.81, 0.82, 0.83, 0.84)
# documents the warm-up dedup rep runs over: a cold rep on the whole
# corpus took 16-20 s, on these 14-16 s
WARM_DOCS = 1500
# the dedup_canonical verb's MinHash parameters (its defaults)
MINHASH = {"num_perm": 64, "bands": 16, "shingle_k": 3, "threshold": 0.5}


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, state_dir: str) -> None:
        cfg = WORKLOADS[workload]
        self.name = workload
        self.kind = cfg["kind"]
        self.scale = cfg["scale"]
        self.reruns = cfg.get("reruns", 0)
        self.rounds = cfg["rounds"]
        self.warm_rounds = cfg["warm_rounds"]
        self.seconds = seconds
        self.seed = seed
        self.state = state_dir
        self.data_dir = os.path.join(state_dir, "data", f"scale{self.scale:g}")
        self.docs_per_rep = int(50_000 * self.scale) if self.kind == "dedup" else 0
        self.spark = None
        self.psql = None
        self._tracer = None
        self.warm_ops: list[dict] = []
        self._reps = 0
        self.errors: list[str] = []

    # -- set-up ----------------------------------------------------------

    def setup(self, warm_round: bool = False) -> dict[str, float]:
        """Spark session, PsqlSession, declared keys, warm-up; returns
        the seconds each took. The warm-up is one statement, or with
        ``warm_round`` one untimed round of the workload (``warm_ops``)."""
        from duckdb_psql_spark.session import PsqlSession, default_spark, tune_for_input

        d = self.data_dir
        t0 = time.perf_counter()
        self.spark = default_spark(app_name="perfbench", cpus=len(os.sched_getaffinity(0)))
        tune_for_input(self.spark, d)
        t1 = time.perf_counter()
        self.psql = PsqlSession(self.spark)
        t2 = time.perf_counter()
        for tbl, col in PRIMARY_KEYS:
            self.psql.sql(f"declare primary key on '{d}/{tbl}.parquet' ({col})")
        for tbl, col, rtbl, rcol in FOREIGN_KEYS:
            self.psql.sql(f"declare foreign key on '{d}/{tbl}.parquet' ({col}) "
                          f"references '{d}/{rtbl}.parquet' ({rcol})")
        t3 = time.perf_counter()
        if warm_round:
            self.warm_ops = self._warm_round()
        else:
            self.psql.sql(WARMUP.replace("$SF", d)).toArrow()
        t4 = time.perf_counter()
        return {"spark_s": t1 - t0, "psql_session_s": t2 - t1,
                "declare_keys_s": t3 - t2, "warmup_s": t4 - t3}

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.psql = None

    def shutdown(self) -> None:
        """Stop Spark, then close the JVM's stdin (pyspark's gateway exits
        on EOF, taking its Python workers with it) and wait for it."""
        from pyspark import SparkContext

        self.stop_spark()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if gateway.proc is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)

    # -- rounds ------------------------------------------------------------

    def _units(self) -> list[str | None]:
        """One round: the statements in a fixed order — where a statement
        sits decides how warm the JVM is when it runs, and a seeded order
        moved the round's median by ~30 % between seeds — or one dedup
        rep (None)."""
        from .statements import STATEMENTS

        return sorted(STATEMENTS) if self.kind == "olap" else [None]

    def _unit(self, unit: str | None, rng: random.Random, used: set[int],
              first_op: int, warm: bool = False) -> list[dict]:
        """One statement with its reruns (none when warming up), or one
        dedup rep."""
        if unit is None:
            return [self._dedup_rep(first_op, warm)]
        return self._olap_unit(unit, rng, used, first_op, 0 if warm else self.reruns)

    def _warm_round(self) -> list[dict]:
        """Untimed rounds of ad-hoc ops, the warm-up of the first set-up,
        so that every timed op runs in a JIT-warm JVM (a cold first round
        ran up to 1.9x slower). Their ops only count if they raise."""
        rng = random.Random(f"{self.seed}-warm-up")
        ops: list[dict] = []
        for _ in range(self.warm_rounds):
            for unit in self._units():
                ops += self._unit(unit, rng, set(), len(ops), warm=True)
        for r in ops:
            r.update(traced=False, warmup=True, ok="error" not in r)
            r.pop("table", None)
        return ops

    def phase(self, tracer=None) -> list[dict]:
        """Run the workload's timed rounds, and more whole rounds while
        the ops have taken less than ``seconds``.

        With a ``tracer`` every unit of work (a statement's adhoc op and
        its reruns, or a dedup rep) runs twice, untraced and traced, in
        alternating order and with different literals, so both halves see
        the same JVM warmth; each op records which half it was in. A
        traced phase makes at most two rounds, which keeps the run within
        the benchmark's time limit."""
        modes = [None] if tracer is None else [None, tracer]
        if tracer is not None:
            from .sparkstats import JobStats
            from .spans import Py4jCounter

            self._jobs = JobStats(self.spark)
            self._py4j = Py4jCounter(self.spark)
        try:
            ops: list[dict] = []
            rng = random.Random(self.seed)
            used: set[int] = set()
            rounds = self.rounds if tracer is None else min(self.rounds, 2)
            n_rounds = n_units = 0
            while n_rounds < rounds or sum(r["ms"] for r in ops) < self.seconds * 1000.0:
                n_rounds += 1
                for unit in self._units():
                    n_units += 1
                    for mode in (modes if n_units % 2 else modes[::-1]):
                        self._tracer = mode
                        new = self._unit(unit, rng, used, len(ops))
                        for r in new:
                            r["traced"] = mode is not None
                        ops += new
            return ops
        finally:
            self._tracer = None
            if tracer is not None:
                self._py4j.close()

    def _olap_unit(self, name: str, rng: random.Random, used: set[int],
                   first_op: int, reruns: int) -> list[dict]:
        """One statement as new text (adhoc), then its reruns."""
        from .statements import STATEMENTS

        psql_text, oracle, col = STATEMENTS[name]
        lit = rng.randrange(1, 10**9)
        while lit in used:
            lit = rng.randrange(1, 10**9)
        used.add(lit)
        text = psql_text.replace("$SF", self.data_dir).rstrip() + f" |>\nwhere {col} > -{lit}"
        oracle_sql = f"select * from ({oracle}) as _o where {col} > -{lit}"
        ops: list[dict] = []
        for k in range(1 + reruns):
            rec = self._op("rerun" if k else "adhoc", text, first_op + k)
            rec.update(name=name, oracle=oracle_sql)
            if k:
                # a plan-cache hit hands back the identical DataFrame
                rec["hit"] = rec.pop("df", None) is ops[0].get("df") is not None
                rec["ref"] = ops[0]
            ops.append(rec)
        ops[0].pop("df", None)
        return ops

    def dedup_statement(self, out: str, subset: str = "") -> str:
        thr = DEDUP_THRESHOLDS[self.seed % len(DEDUP_THRESHOLDS)]
        return (
            f"copy (from '{self.data_dir}/documents.parquet' |> {subset}quality_score |> "
            f"where quality_score >= {thr} |> dedup_canonical id=doc_id text=text |> "
            f"select doc_id, quality_score, text) to '{out}' (format parquet)"
        )

    def _dedup_rep(self, op_id: int, warm: bool = False) -> dict:
        """One COPY; a warm-up rep runs it over the first ``WARM_DOCS``
        documents only and its output is not read back."""
        import duckdb

        self._reps += 1
        out = os.path.join(self.state, "out", f"{self.name}-{self.seed}-{self._reps}")
        shutil.rmtree(out, ignore_errors=True)
        subset = f"where doc_id < {WARM_DOCS} |> " if warm else ""
        rec = self._op("adhoc", self.dedup_statement(out, subset), op_id, fetch=False)
        rec.pop("df", None)
        if "error" not in rec and not warm:
            files = [f for f in os.listdir(out) if f.endswith(".parquet")]
            rec["out_mb"] = sum(os.path.getsize(os.path.join(out, f)) for f in files) / 2**20
            con = duckdb.connect()
            try:
                rows = con.execute(f"select doc_id, count(*) over (partition by text) "
                                   f"from '{out}/*.parquet'").fetchall()
            finally:
                con.close()
            rec["kept"] = frozenset(int(r[0]) for r in rows)
            rec["dup_texts"] = sum(1 for r in rows if r[1] > 1)
        shutil.rmtree(out, ignore_errors=True)
        return rec

    # -- one op ------------------------------------------------------------

    def _op(self, kind: str, text: str, op_id: int, fetch: bool = True) -> dict:
        """Issue one statement and, with ``fetch``, fetch its result with
        ``toArrow()``. A raised op is recorded, never fatal."""
        if self._tracer is not None:
            return self._traced_op(kind, text, op_id, fetch)
        rec: dict = {"kind": kind, "op": op_id}
        t0 = time.perf_counter()
        try:
            rec["df"] = self.psql.sql(text)
            if fetch:
                rec["table"] = rec["df"].toArrow()
        except Exception as e:  # noqa: BLE001 — counted in failed_frac
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        rec["ms"] = (time.perf_counter() - t0) * 1000.0
        return rec

    def _traced_op(self, kind: str, text: str, op_id: int, fetch: bool) -> dict:
        """The op with spans (op > parse, compose, catalyst, action; Spark
        jobs under the span they ran in), py4j calls counted during
        compose, and the job group's counters."""
        from duckdb_psql_spark.lexer import strip_comments, tokenize
        from duckdb_psql_spark.scanner import first_statement, split_stages
        from duckdb_psql_spark.stages import parse_stage

        from .sparkstats import plan_shape

        tr = self._tracer
        rec: dict = {"kind": kind, "op": op_id}
        compose = action = None
        t0 = time.perf_counter()
        with tr.span("op", op=op_id) as root:
            with tr.span("parse", op=op_id, parent=root["id"]) as parse:
                stmt = first_statement(strip_comments(text))
                tokenize(stmt)
                for st in split_stages(stmt)[1:]:
                    parse_stage(st)
            gid = self._jobs.begin(f"{kind} {op_id}")
            try:
                calls = self._py4j.calls
                with tr.span("compose", op=op_id, parent=root["id"]) as compose:
                    rec["df"] = self.psql.sql(text)
                rec["py4j_calls"] = self._py4j.calls - calls
                if fetch:
                    with tr.span("catalyst", op=op_id, parent=root["id"]):
                        plan = rec["df"]._jdf.queryExecution().executedPlan().toString()
                    rec["exchanges"], rec["broadcasts"] = plan_shape(plan)
                    with tr.span("action", op=op_id, parent=root["id"]) as action:
                        rec["table"] = rec["df"].toArrow()
                    rec["rows"] = rec["table"].num_rows
            except Exception as e:  # noqa: BLE001 — counted in failed_frac
                rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            finally:
                js = self._jobs.end(gid)
        rec["ms"] = (time.perf_counter() - t0) * 1000.0
        rec["parse_ms"] = (parse["end"] - parse["start"]) * 1000.0
        if compose is not None and compose["end"] is not None:
            rec["compose_ms"] = (compose["end"] - compose["start"]) * 1000.0
        for start, end in js.pop("jobs"):
            inside = compose if action is None or start < action["start"] else action
            tr.add("job", start, end, op=op_id, parent=(inside or root)["id"])
        rec.update(js)
        return rec

    # -- checks (off the clock) ------------------------------------------

    def check(self, ops: list[dict], reference):
        """Mark each op ``ok`` or not; returns the dedup kept-id set
        (``reference`` is the set earlier reps must all match)."""
        if self.kind == "dedup":
            return self._check_dedup(ops, reference)
        self._check_olap(ops)
        return None

    def _check_olap(self, ops: list[dict]) -> None:
        from .check import Oracle
        from .datagen import TABLES

        oracle = Oracle(self.data_dir, TABLES)
        try:
            for rec in ops:
                if "error" in rec:
                    continue
                ref = rec.get("ref")
                if ref is not None and ref.get("ok") and rec["table"].equals(ref["table"]):
                    rec["ok"] = True
                    continue
                try:
                    rec["ok"] = oracle.matches(rec["table"], rec["oracle"], rec["name"])
                except Exception as e:  # noqa: BLE001 — an unreadable result fails the op
                    rec["ok"] = False
                    self.errors.append(f"check {rec['name']}: {type(e).__name__}: {e}")
                if not rec["ok"]:
                    self.errors.append(f"wrong result: {rec['kind']} {rec['name']}")
        finally:
            oracle.close()

    def _check_dedup(self, ops: list[dict], reference):
        """Every planted exact copy dropped, no two kept docs with the
        same text, and the same kept set in every rep."""
        from .datagen import exact_copy_ids

        copies = exact_copy_ids(self.scale)
        for rec in ops:
            if "error" in rec:
                continue
            kept = rec["kept"]
            if reference is None:
                reference = kept
            problems = []
            if kept & copies:
                problems.append(f"{len(kept & copies)} planted exact copies kept")
            if rec["dup_texts"]:
                problems.append(f"{rec['dup_texts']} kept docs share a text")
            if kept != reference:
                problems.append("kept set differs from the first rep")
            rec["ok"] = not problems
            self.errors += [f"dedup rep {rec['op']}: {p}" for p in problems]
        return reference

    # -- dedup operators, one by one (traced run) --------------------------

    def dedup_layers(self) -> dict[str, float]:
        """Time each public operator of the dedup statement on the same
        input, each written to the ``noop`` sink, plus the parquet write
        of the statement's result."""
        from duckdb_psql_spark.operators.dedup import minhash_dup_pairs, minhash_signatures
        from duckdb_psql_spark.operators.graph import connected_components
        from duckdb_psql_spark.operators.text import quality_score
        from pyspark.sql import functions as F

        from .sparkstats import python_bytes_sent

        def timed(fn) -> float:
            t0 = time.perf_counter()
            fn()
            return (time.perf_counter() - t0) * 1000.0

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        thr = DEDUP_THRESHOLDS[self.seed % len(DEDUP_THRESHOLDS)]
        docs = self.spark.read.parquet(f"{self.data_dir}/documents.parquet")
        m: dict[str, float] = {}
        m["text.quality_ms"] = timed(lambda: noop(quality_score(docs)))
        kept = quality_score(docs).where(F.col("quality_score") >= thr)
        sig = {"id_col": "doc_id", "text_col": "text",
               "num_perm": MINHASH["num_perm"], "shingle_k": MINHASH["shingle_k"]}
        m["dedup.signature_ms"] = timed(lambda: noop(minhash_signatures(kept, **sig)))
        counted = minhash_signatures(kept, unique_ids=True, **sig).agg(F.count(F.lit(1)))
        m["arrow.signature_ms"] = timed(counted.collect)
        m["arrow.bytes_to_python_mb"] = python_bytes_sent(counted) / 2**20
        box = {}

        def pairs_run():
            box["pairs"] = minhash_dup_pairs(kept, **sig, bands=MINHASH["bands"],
                                             threshold=MINHASH["threshold"])
            noop(box["pairs"])

        m["dedup.pairs_ms"] = timed(pairs_run)
        m["dedup.dup_pairs"] = float(box["pairs"].count())
        m["dedup.candidate_pairs"] = float(
            minhash_dup_pairs(kept, **sig, bands=MINHASH["bands"], threshold=0.0).count()
        )
        m["dedup.pair_yield"] = m["dedup.dup_pairs"] / max(m["dedup.candidate_pairs"], 1.0)
        m["graph.components_ms"] = timed(lambda: noop(connected_components(box["pairs"])))
        out = os.path.join(self.state, "out", f"{self.name}-{self.seed}-write")
        stmt = self.dedup_statement(out)
        df = self.psql.sql(stmt[len("copy ("):stmt.rindex(") to '")])
        m["write.ms"] = timed(lambda: df.write.mode("overwrite").parquet(out))
        files = [f for f in os.listdir(out) if f.endswith(".parquet")]
        m["write.files"] = float(len(files))
        m["write.mb"] = sum(os.path.getsize(os.path.join(out, f)) for f in files) / 2**20
        shutil.rmtree(out, ignore_errors=True)
        return m
