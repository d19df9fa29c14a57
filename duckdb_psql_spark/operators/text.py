"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting (charter extended surface).

Everything is built-in-function based (split/regexp/aggregate/transform) —
whole-stage codegen end to end, no Python in the row path, so these run at
scan speed on 100 TB. Each operator is a pure DataFrame→DataFrame
function usable standalone or through ``queries()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword anchors for the n-gram/stopword heuristic.
# Deliberately small + deterministic; real pipelines would swap in a model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "los", "de", "que", "es", "un", "una"],
    "fr": ["le", "la", "les", "des", "et", "est", "une", "dans"],
}


def _tokens(text: Column) -> Column:
    return F.split(F.lower(text), r"\s+")


_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_DIGIT = "0123456789"


def _count_of(text: Column, chars: str) -> Column:
    """Occurrences of any char in ``chars``: length minus length-after-
    deleting them. ``translate`` is a plain char-map — far cheaper than a
    regexp pass over the document, and the count is identical."""
    return F.length(text) - F.length(F.translate(text, chars, ""))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: lengths, ratios, entropy-ish signals."""
    t = F.col(text_col)
    toks = _tokens(t)
    n_chars = F.length(t)
    n_words = F.size(toks)
    alpha = _count_of(t, _ALPHA)
    digits = _count_of(t, _DIGIT)
    punct = _count_of(t, ".,;:!?")
    spaces = _count_of(t, " ")
    uniq_words = F.size(F.array_distinct(toks))
    # Ratios are RAW doubles, not rounded: fractional rounding of rationals
    # is not reproducible across engines at exact-decimal ties (DuckDB
    # multiplies-then-rounds the binary double, Spark rounds the shortest
    # decimal repr), so presentation rounding is left to the caller —
    # integer scaling (round(x*10000)) IS cross-engine-deterministic
    # because half-integers are exactly representable.
    return df.select(
        "*",
        n_chars.alias("n_chars_calc"),
        n_words.alias("n_words"),
        uniq_words.alias("n_unique_words"),
        (uniq_words / F.greatest(n_words, F.lit(1))).alias("lexical_diversity"),
        (alpha / F.greatest(n_chars, F.lit(1))).alias("alpha_ratio"),
        (digits / F.greatest(n_chars, F.lit(1))).alias("digit_ratio"),
        (punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (spaces / F.greatest(n_chars, F.lit(1))).alias("space_ratio"),
        (n_chars / F.greatest(n_words, F.lit(1))).alias("avg_word_len"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score from the stats features.

    Heuristic blend: penalize extreme lengths, low lexical diversity,
    digit/punct-heavy content — the standard cheap pre-filter before
    expensive model-based scoring in a training-data pipeline.
    """
    stats = with_text_stats(df, text_col)
    length_ok = F.when(
        (F.col("n_words") >= 5) & (F.col("n_words") <= 100000), F.lit(1.0)
    ).otherwise(F.lit(0.2))
    score = (
        0.35 * length_ok
        + 0.25 * F.least(F.col("lexical_diversity") * 2, F.lit(1.0))
        + 0.25 * F.col("alpha_ratio")
        + 0.15 * (1 - F.least(F.col("digit_ratio") * 5, F.lit(1.0)))
    )
    return stats.withColumn("quality_score", score)


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: stopword-hit ratios + CJK character ratio.

    argmax over per-language stopword hit counts; CJK codepoint ratio
    handles zh. Pure codegen (filter/size over the token array).
    """
    toks = _tokens(F.col(text_col))
    n = F.greatest(F.size(toks), F.lit(1))
    hit_cols = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))  # noqa: B023
        for lang, words in STOPWORDS.items()
    }
    cjk = F.length(F.regexp_replace(F.col(text_col), r"[^一-鿿]", ""))
    cjk_ratio = cjk / F.greatest(F.length(F.col(text_col)), F.lit(1))
    best = F.greatest(*hit_cols.values())
    pred = F.when(cjk_ratio > 0.05, F.lit("zh"))
    for lang, c in hit_cols.items():
        pred = pred.when((best > 0) & (c == best), F.lit(lang))
    pred = pred.otherwise(F.lit("und"))
    return df.withColumn(out_col, pred)


def token_count(
    df: DataFrame, text_col: str = "text", out_col: str = "n_tokens"
) -> DataFrame:
    """BPE-ish token estimate: word pieces + punctuation as separate tokens.

    Splits on whitespace, then counts sub-word chunks of ≤4 chars plus
    punctuation runs — a deterministic, model-free stand-in with the same
    Spark-side shape as a real tokenizer UDF.
    """
    t = F.col(text_col)
    words = F.size(F.split(F.trim(t), r"\s+"))
    # translate-based counts (see _count_of); " \t\n\x0b\f\r" == java \s
    punct = F.length(t) - _count_of(t, _ALPHA + _DIGIT) - _count_of(t, " \t\n\x0b\x0c\r")
    long_chars = _count_of(t, _ALPHA + _DIGIT)
    # every word costs ceil(len/4)-ish: chars/4 rounded up via (c+3) div 4
    subword = F.floor((long_chars + F.lit(3)) / F.lit(4))
    return df.withColumn(out_col, (words + punct + subword).cast("bigint"))


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    *,
    shingle_k: int = 3,
    sketch_size: int = 8,
) -> DataFrame:
    """Document fingerprint: md5 (exact) + winnowing-style min-hash sketch.

    ``fp_md5`` identifies exact duplicates; ``fp_sketch`` (the
    ``sketch_size`` smallest shingle hashes, sorted) is a compact rolling
    fingerprint robust to local edits — two docs sharing most shingles
    share most of the sketch.
    """
    toks = _tokens(F.col(text_col))
    n = F.greatest(F.size(toks) - F.lit(shingle_k - 1), F.lit(1))
    shingle_hashes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.xxhash64(F.array_join(F.slice(toks, i, shingle_k), " ")),
    )
    sketch = F.slice(F.array_sort(F.array_distinct(shingle_hashes)), 1, sketch_size)
    return df.select(
        "*",
        F.md5(F.col(text_col)).alias("fp_md5"),
        sketch.alias("fp_sketch"),
    )


def contamination_check(
    df: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_text_col: str = "text",
    shingle_k: int = 5,
    min_overlap: float = 0.5,
    hash_mode: str = "xxhash64",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per-doc n-gram overlap with an eval set.

    Standard training-corpus hygiene (public practice: n-gram-overlap
    decontamination as described in the GPT-3/PaLM appendices): a
    document whose word-``shingle_k``-gram set overlaps the probe
    (benchmark) gram set above ``min_overlap`` is flagged as
    contaminated so it can be dropped before training.

    Scale shape: the probe side is DISTINCT grams of the (small) eval
    set — broadcast by default, so the corpus side is one scan + one
    partial/final aggregation, no corpus shuffle of gram strings. Grams
    travel as 64-bit hashes (``xxhash64``), not strings; ``hash_mode=
    "md5"`` is the cross-engine twin the differential oracle reproduces
    in DuckDB (same pattern as minhash_dup_pairs). Set
    ``broadcast_probes=False`` for a probe set too large to broadcast —
    the join falls back to AQE's choice.

    Returns ``df`` plus ``n_grams`` (distinct grams in the doc),
    ``n_hit`` (grams also in the probe set), ``overlap_scaled``
    (``round(n_hit/n_grams*10000)`` — the repo's exact-comparison grid),
    and boolean ``contaminated``.
    """
    from .dedup import _shingles

    if hash_mode == "md5":
        def h(c: Column) -> Column:
            return F.md5(c)
    else:
        def h(c: Column) -> Column:
            return F.xxhash64(c)

    if df.isStreaming:
        # Stateless streaming formulation: the explode+groupBy shape below
        # would be a streaming aggregation (watermark + update mode). Each
        # document only ever aggregates its OWN grams, so fold the probe
        # side into ONE broadcast row holding the full gram set and score
        # per-row with array_intersect — append-mode safe, continuous
        # decontamination of an ingest stream with zero state.
        probe_row = (
            probes.select(
                F.explode(
                    F.array_distinct(_shingles(probe_text_col, shingle_k))
                ).alias("_g")
            )
            .agg(F.collect_set(h(F.col("_g"))).alias("_pg"))
        )
        grams = F.array_distinct(
            F.transform(_shingles(text_col, shingle_k), lambda g: h(g))
        )
        joined = df.crossJoin(F.broadcast(probe_row))
        n_grams = F.size(grams)
        n_hit = F.size(F.array_intersect(grams, F.col("_pg")))
        overlap = n_hit / n_grams
        return joined.select(
            *[df[c] for c in df.columns],
            n_grams.alias("n_grams"),
            n_hit.alias("n_hit"),
            F.round(overlap * 10000, 0).cast("bigint").alias("overlap_scaled"),
            (overlap >= F.lit(min_overlap)).alias("contaminated"),
        )

    doc_grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(_shingles(text_col, shingle_k))).alias("_g"),
    ).select(F.col(id_col), h(F.col("_g")).alias("_gh"))
    probe_grams = (
        probes.select(
            F.explode(F.array_distinct(_shingles(probe_text_col, shingle_k))).alias("_g")
        )
        .select(h(F.col("_g")).alias("_gh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_probes:
        probe_grams = F.broadcast(probe_grams)
    stats = (
        doc_grams.join(probe_grams, "_gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
    )
    overlap = F.col("n_hit") / F.col("n_grams")
    # explicit column list, not df["*"]: an unexpanded star inside the plan
    # trips ASSIGNMENT_ARITY_MISMATCH when the result is re-analyzed as a
    # spark.sql() DataFrame parameter (subquery column aliases resolve
    # before star expansion), which is exactly how pipe stages consume it
    return df.join(stats, id_col).select(
        *[df[c] for c in df.columns],
        F.col("n_grams"),
        F.col("n_hit"),
        F.round(overlap * 10000, 0).cast("bigint").alias("overlap_scaled"),
        (overlap >= F.lit(min_overlap)).alias("contaminated"),
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    *,
    nfc: bool = True,
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_punct: bool = False,
    out_col: str | None = None,
) -> DataFrame:
    """Canonical text normalization for dedup/training pipelines.

    Unicode NFC (the ``nfc_normalize`` session UDF — Arrow-batched, the
    one step with no Spark builtin), lowercasing, whitespace collapsing,
    and optional punctuation stripping — all other steps stay inside
    whole-stage codegen. Normalizing BEFORE minhash/simhash/exact dedup
    makes byte-level variants (case, NBSP vs space, composed vs
    decomposed accents) hash identically, which is where most "missed
    duplicates" in a real corpus come from.
    """
    c: Column = F.col(text_col)
    if nfc:
        c = F.expr(f"nfc_normalize({text_col})")
    if lowercase:
        c = F.lower(c)
    if strip_punct:
        # keep letters/digits/whitespace; drop everything else
        c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", "")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col or text_col, c)


# --- Gopher-style repetition signals -----------------------------------

def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    ngram: int = 2,
) -> DataFrame:
    """Repetition-based quality signals (the Gopher-rules family).

    Per document:

    * ``n_lines`` / ``dup_line_frac`` — fraction of newline-separated
      lines that are repeats of an earlier line. Pure codegen (split +
      array_distinct), no shuffle.
    * ``n_grams`` / ``top_gram_n`` / ``top_ngram_frac`` — share of word
      ``ngram``-grams taken by the single most frequent gram. Finding a
      per-document mode needs per-(doc, gram) counting: explode →
      two-level hash aggregate (map-side partial combine) keyed by the
      doc id, then one join back. Shuffle width is O(total grams) with
      near-uniform keys — the same scale class as a tokenize pass, no
      skew hazard at 100 TB.

    High duplicate-line or top-gram share marks boilerplate/spam docs;
    the standard cheap filter before model-based quality scoring.
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    dup_line_frac = (n_lines - F.size(F.array_distinct(lines))) / F.greatest(
        n_lines, F.lit(1)
    )
    base = df.select(
        "*",
        F.split(F.lower(F.trim(t)), r"\s+").alias("__words"),
        n_lines.alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
    )
    # 1-based slice(arr, i, n); sequence(a, b) DESCENDS when a > b, so the
    # short-doc case must be guarded to an empty array explicitly
    gram = F.expr(
        f"CASE WHEN size(__words) < {ngram} THEN array() "
        f"ELSE transform(sequence(1, size(__words) - {ngram - 1}), "
        f"i -> concat_ws(' ', slice(__words, i, {ngram}))) END"
    )
    grams = base.select(F.col(id_col), F.explode(gram).alias("__g"))
    counts = grams.groupBy(id_col, "__g").agg(F.count("*").alias("__c"))
    top = counts.groupBy(id_col).agg(
        F.max("__c").alias("top_gram_n"), F.sum("__c").alias("n_grams")
    )
    joined = base.drop("__words").join(top, id_col, "left")
    return joined.select(
        *[c for c in joined.columns if c not in ("top_gram_n", "n_grams")],
        F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
        F.coalesce(F.col("top_gram_n"), F.lit(0)).alias("top_gram_n"),
        (
            F.coalesce(F.col("top_gram_n"), F.lit(0))
            / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1))
        ).alias("top_ngram_frac"),
    )


# --- PII redaction ------------------------------------------------------

# Deliberately simple, deterministic patterns (chosen to behave identically
# under Java regex and RE2): emails, dotted-quad IPs, long digit runs with
# separators. Real pipelines swap in model-based NER; the Spark-side shape
# (codegen regexp passes, no Python in the row path) is the point.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d[\d \-]{7,}\d",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", *, out_col: str | None = None
) -> DataFrame:
    """Mask emails / IPv4s / phone-like digit runs; count each kind.

    Counts are taken on the ORIGINAL text (so `n_ip` is not perturbed by
    the email replacement), replacements run in a fixed order
    (email → ip → phone) on a running value. Everything is
    whole-stage-codegen regexp work — scan-speed at 100 TB.
    """
    t = F.col(text_col)
    red = t
    for kind, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"[{kind.upper()}]")
    return df.select(
        "*",
        *[
            F.regexp_count(t, F.lit(pat)).alias(f"n_{kind}")
            for kind, pat in PII_PATTERNS.items()
        ],
    ).withColumn(out_col or text_col, red)


# --- context-window chunking -------------------------------------------

def strip_html(
    df: DataFrame,
    text_col: str = "text",
    *,
    out_col: str | None = None,
) -> DataFrame:
    """HTML → text for corpus ingestion (round 10): the regex tier
    every large-scale pipeline runs before quality scoring —
    script/style/noscript blocks and comments removed WITH their
    content, remaining tags become spaces, the six ubiquitous entities
    decode, whitespace collapses. DOM-level extraction
    (trafilatura-class main-content detection) needs an HTML parser
    and is deliberately out of scope — this is the deterministic,
    whole-stage-codegen tier (no UDFs, no backreferences, so the SAME
    chain is expressible in the DuckDB oracle for the differential).
    At 100 TB this is a pure map over the scan — no shuffle, no
    Python."""
    c: Column = F.col(text_col)
    for tag in ("script", "style", "noscript"):
        c = F.regexp_replace(c, rf"(?is)<{tag}\b[^>]*>.*?</{tag}>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?i)<br\s*/?>|</p>|</div>|</li>", "\n")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, ch in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    c = F.regexp_replace(F.regexp_replace(c, r"[ \t]+", " "), r"\s*\n\s*", "\n")
    c = F.regexp_replace(c, r"^\s+|\s+$", "")
    return df.withColumn(out_col or text_col, c)


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    *,
    size: int = 200,
    overlap: int = 0,
    out_col: str = "chunk",
) -> DataFrame:
    """Split documents into word-based chunks of ``size`` tokens with
    ``overlap`` tokens shared between consecutive chunks — the standard
    pre-embedding step for context-window-bounded models.

    Pure codegen: split → slice windows via transform → posexplode.
    One generator, no shuffle; output rows carry ``chunk_idx`` and the
    chunk text alongside every input column. At 100 TB this is a
    map-only pass whose output width is input × (1 + overlap/size).
    """
    if not 0 <= overlap < size:
        raise ValueError("chunk_text: require 0 <= overlap < size")
    step = size - overlap
    # the split pattern goes through the Python API, NOT a SQL literal —
    # PsqlSession flips spark.sql.parser.escapedStringLiterals, which
    # would change what '\\s+' means inside selectExpr text
    base = df.withColumn("__words", F.split(F.trim(F.col(text_col)), r"\s+"))
    n_chunks = (
        f"greatest(cast(ceil((size(__words) - {overlap}) / {step}.0) as int), 1)"
    )
    chunks = (
        f"transform(sequence(0, {n_chunks} - 1), "
        f"i -> concat_ws(' ', slice(__words, i * {step} + 1, {size})))"
    )
    return base.selectExpr(
        "*", f"posexplode({chunks}) as (chunk_idx, {out_col})"
    ).drop("__words")


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set —
    the standard corpus-ranking primitive (Robertson & Zaragoza 2009,
    "The Probabilistic Relevance Framework: BM25 and Beyond").

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln((N − df(t) + 0.5)/(df(t) + 0.5) + 1)   (Lucene form).

    Tokenization is deterministic and oracle-reproducible: lowercase,
    split on runs of non-[a-z0-9], drop empties.

    Scale shape: one explode filtered to the query terms BEFORE any
    shuffle (the exploded stream carries only matching terms — for a
    k-term query that is a tiny fraction of the corpus), one
    (doc, term) partial/final aggregation, a broadcast of the ≤k-row
    document-frequency side and the 1-row corpus stats, then one final
    per-doc aggregation. No corpus-wide term shuffle, no UDFs — whole
    plan stays in codegen. Returns (id_col, bm25) for EVERY input doc
    (zero-match docs score 0.0).
    """
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    toks = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != ""
        ).alias("__t"),
    )
    dl = toks.select(id_col, F.size("__t").alias("__dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("__dl").alias("__avgdl")
    )
    tf = (
        toks.select(id_col, F.explode("__t").alias("__term"))
        .where(F.col("__term").isin(list(query_terms)))
        .groupBy(id_col, "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dfreq = tf.groupBy("__term").agg(
        F.countDistinct(id_col).alias("__df")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "__term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                F.log(
                    (F.col("__n") - F.col("__df") + F.lit(0.5))
                    / (F.col("__df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (F.col("__tf") * F.lit(k1 + 1.0))
                / (
                    F.col("__tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("__dl") / F.col("__avgdl")
                    )
                )
            ).alias("__s"),
        )
        .groupBy(id_col)
        .agg(F.sum("__s").alias("__bm25"))
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__bm25"), F.lit(0.0)).alias("bm25"),
        )
    )


def ngram_lm_score(
    df: DataFrame,
    ref: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_text_col: str = "text",
    lam: float = 0.8,
) -> DataFrame:
    """Bigram language-model quality score — the CCNet-style "perplexity
    under a reference-corpus LM" filter (Wenzek et al. 2020, CCNet),
    with a deterministic closed-form model instead of KenLM so the score
    is exactly oracle-reproducible:

        p(w2|w1) = lam·c(w1 w2)/c(w1)  [0 when c(w1)=0]
                 + (1−lam)·(c(w2)+1)/(T+V)      (Laplace unigram floor)
        score(d) = mean over the doc's bigrams of ln p(w2|w1)

    Higher is more reference-like; docs with <2 tokens score NULL.
    Tokenization matches bm25_scores ([^a-z0-9]+, lowercase).

    Scale shape: the reference LM is two grouped counts (bigram,
    unigram) built in one pass over ``ref``; the corpus side explodes
    each doc's bigrams once and LEFT-joins the two count relations on
    their token keys — Catalyst broadcasts them when small, falls back
    to a hash join keyed on the bigram string otherwise (for a 100 TB
    reference, pre-hash the keys with xxhash64 the way the
    decontamination operator ships grams). One final per-doc
    aggregation. No UDFs anywhere.
    """
    def toks(c: Column) -> Column:
        return F.filter(
            F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != ""
        )

    rtoks = ref.select(toks(F.col(ref_text_col)).alias("__t"))
    runi = rtoks.select(F.explode("__t").alias("__w")).groupBy("__w").agg(
        F.count(F.lit(1)).alias("__cw")
    )
    rbi = (
        rtoks.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("__t"), 1, F.greatest(F.size("__t") - 1, F.lit(0))),
                    F.slice(F.col("__t"), 2, F.greatest(F.size("__t") - 1, F.lit(0))),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("__bg")
        )
        .groupBy("__bg")
        .agg(F.count(F.lit(1)).alias("__cbg"))
    )
    stats = runi.agg(
        F.sum("__cw").alias("__T"), F.count(F.lit(1)).alias("__V")
    )
    doc_bi = df.select(
        F.col(id_col), toks(F.col(text_col)).alias("__t")
    ).select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice(F.col("__t"), 1, F.greatest(F.size("__t") - 1, F.lit(0))),
                F.slice(F.col("__t"), 2, F.greatest(F.size("__t") - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("__bg"),
    )
    joined = (
        doc_bi.join(rbi, "__bg", "left")
        .withColumn("__w1", F.split(F.col("__bg"), " ")[0])
        .withColumn("__w2", F.split(F.col("__bg"), " ")[1])
        .join(
            runi.select(
                F.col("__w").alias("__w1"), F.col("__cw").alias("__cw1")
            ),
            "__w1",
            "left",
        )
        .join(
            runi.select(
                F.col("__w").alias("__w2"), F.col("__cw").alias("__cw2")
            ),
            "__w2",
            "left",
        )
        .crossJoin(F.broadcast(stats))
    )
    p = (
        F.lit(lam)
        * F.when(
            F.coalesce(F.col("__cw1"), F.lit(0)) > 0,
            F.coalesce(F.col("__cbg"), F.lit(0))
            / F.col("__cw1").cast("double"),
        ).otherwise(F.lit(0.0))
        + F.lit(1.0 - lam)
        * (F.coalesce(F.col("__cw2"), F.lit(0)) + F.lit(1.0))
        / (F.col("__T") + F.col("__V")).cast("double")
    )
    scored = joined.select(id_col, F.log(p).alias("__lp")).groupBy(
        id_col
    ).agg(F.avg("__lp").alias("lm_score"))
    return df.select(id_col).join(scored, id_col, "left")


def duplicate_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_k: int = 8,
    min_tokens: int | None = None,
    cross_doc_only: bool = True,
) -> DataFrame:
    """Exact duplicated-substring detection — the span-level dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), re-expressed as a distributed k-gram pipeline instead of
    a suffix array (which does not shard).

    A substring of >= gram_k tokens duplicated anywhere in the corpus
    produces a RUN of duplicated k-grams; merging adjacent duplicated
    gram positions (gaps-and-islands) recovers the maximal span
    EXACTLY — same result set as the suffix-array formulation for
    token-level duplicates of length >= gram_k, found with three
    shuffles, all in codegen:

      1. tokenize (lowercase, split non-alnum) and posexplode k-gram
         MD5s — linear in corpus tokens, no shuffle yet (MD5, not
         xxhash64, so a SQL oracle can reproduce every stage);
      2. duplicated grams: groupBy(hash) keeping hashes seen in >= 2
         docs (cross_doc_only) or >= 2 positions anywhere; the
         per-hash state is two counters (map-side partial agg);
      3. join positions with the duplicated-hash set on the hash
         (both sides hash-partitioned — co-located at any scale), then
         per-doc gaps-and-islands: island = pos - row_number() over
         (doc, pos), one window + one groupBy, emitting
         [span_start, span_end] token ranges of merged runs.

    min_tokens (default gram_k) drops spans shorter than the reporting
    threshold after merging. Returns (id_col, span_start, span_end,
    span_tokens) with token indices 0-based inclusive. 100 TB judgment:
    no collects, no UDFs, per-key state is bounded (counters + one
    window row); skewed hot grams (boilerplate) shrink to ONE row per
    hash before the join back.
    """
    if gram_k < 2:
        raise ValueError("duplicate_spans: gram_k must be >= 2")
    min_tokens = gram_k if min_tokens is None else min_tokens
    toks = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != ""
        ).alias("__t"),
    )
    grams = toks.select(
        id_col,
        F.posexplode(
            # docs shorter than gram_k emit NO grams (a bare
            # sequence(0, size-k) would auto-reverse into [0, -1])
            F.when(
                F.size("__t") >= gram_k,
                F.transform(
                    F.sequence(F.lit(0), F.size("__t") - gram_k),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(F.col("__t"), i + 1, gram_k))
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__pos", "__h"),
    )
    # ">= 2 distinct docs" needs only min(id) != max(id) — two simple
    # map-side-combinable aggregates instead of an exact distinct's
    # two-phase expansion (at 100 TB the distinct's partial state is a
    # per-hash set; min/max is two scalars)
    counts = grams.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(id_col).alias("__i0"),
        F.max(id_col).alias("__i1"),
    )
    dup = counts.where(
        (F.col("__i0") != F.col("__i1"))
        if cross_doc_only
        else (F.col("__n") >= 2)
    ).select("__h")
    hits = grams.join(dup, "__h").select(id_col, "__pos")
    w = Window.partitionBy(id_col).orderBy("__pos")
    islands = hits.withColumn(
        "__island", F.col("__pos") - F.row_number().over(w)
    )
    spans = (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + F.lit(gram_k - 1)).alias("span_end"),
        )
        .drop("__island")
        .withColumn(
            "span_tokens", F.col("span_end") - F.col("span_start") + 1
        )
        .where(F.col("span_tokens") >= min_tokens)
    )
    return spans.select(id_col, "span_start", "span_end", "span_tokens")


def strip_duplicate_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_k: int = 8,
    min_tokens: int | None = None,
    cross_doc_only: bool = True,
) -> DataFrame:
    """Remove the spans ``duplicate_spans`` finds, keeping one document
    row per input row with the duplicated runs cut out of the token
    stream (Lee et al.'s ExactSubstr-cut policy; text is rebuilt from
    the surviving tokens space-joined — the same normalization the
    detector tokenizes under, documented).

    Spans per doc are few and short by construction, so they ride a
    collect_list back onto the doc row (per-doc ceiling = span count,
    not token count) and a codegen filter-by-exists drops covered token
    indices. Adds ``n_spans_cut``; docs with no duplicated span pass
    through with 0.
    """
    spans = duplicate_spans(
        df,
        id_col=id_col,
        text_col=text_col,
        gram_k=gram_k,
        min_tokens=min_tokens,
        cross_doc_only=cross_doc_only,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = df.withColumn(
        "__t",
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != ""
        ),
    )
    joined = toks.join(per_doc, id_col, "left")
    kept = F.filter(
        F.transform(
            F.col("__t"), lambda t, i: F.struct(t.alias("t"), i.alias("i"))
        ),
        lambda x: ~F.exists(
            F.coalesce("__spans", F.array()),
            lambda s: (x["i"] >= s["span_start"]) & (x["i"] <= s["span_end"]),
        ),
    )
    return joined.select(
        *[c for c in df.columns if c != text_col],
        F.concat_ws(
            " ", F.transform(kept, lambda x: x["t"])
        ).alias(text_col),
        F.coalesce(F.size("__spans"), F.lit(0)).alias("n_spans_cut"),
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: str | None = None,
    buckets: int = 4096,
    smoothing: float = 1.0,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed-bigram distribution is,

        w(d) = Σ_g count_g(d) · ln( p_target(bucket(g)) / p_raw(bucket(g)) ),

    where bigrams hash into ``buckets`` counters and both distributions
    are add-``smoothing`` estimated. Selecting the top-w (or
    Gumbel-perturbed top-w) rows of the output IS the DSIR selection
    step.

    Bucket function: ``hash_mode="xxhash64"`` (default — the 100 TB hot
    path, one JVM hash per bigram); ``"md5"`` buckets by the first 8
    hex chars of md5(tok1 ' ' tok2) mod buckets — ~an order of
    magnitude slower but reproducible in any engine, the differential
    oracle's twin (same convention as minhash/simhash). Scale shape: the
    target-side and raw-side distributions are two grouped counts whose
    output is at most ``buckets`` rows — the log-ratio table broadcasts
    at ANY corpus scale; the corpus pays one explode + one (id, bucket)
    partial-agg + the broadcast join. No UDFs, no collects; same shape
    class as the bigram-LM scorer.

    Returns (id_col, dsir_weight, n_grams) for every input row (docs
    with < 2 tokens weight 0 with n_grams 0).
    """
    target_text_col = target_text_col or text_col

    if hash_mode not in ("xxhash64", "md5"):
        raise ValueError(f"dsir_weights: unknown hash_mode {hash_mode!r}")

    def bucket_of(gram):
        if hash_mode == "md5":
            return (
                F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
                % buckets
            )
        return F.pmod(F.xxhash64(gram), F.lit(buckets))

    def grams(frame: DataFrame, col: str, keep_id: bool) -> DataFrame:
        toks = F.filter(
            F.split(F.lower(F.col(col)), "[^a-z0-9]+"), lambda x: x != ""
        )
        pairs = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: bucket_of(
                    F.concat_ws(
                        " ",
                        F.element_at(toks, i),
                        F.element_at(toks, i + 1),
                    )
                ),
            ),
        ).otherwise(F.array().cast("array<long>"))
        cols = [F.col(id_col)] if keep_id else []
        return frame.select(
            *cols, F.explode(pairs).alias("__b")
        )

    tdist = (
        grams(target, target_text_col, keep_id=False)
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__tc"))
    )
    t_total = tdist.agg(F.sum("__tc").alias("__tt"))
    doc_grams = (
        grams(df, text_col, keep_id=True)
        .groupBy(id_col, "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=True)
        # fresh attribute ids: the checkpointed LogicalRDD keeps the
        # origin plan's ids, which collide with df's own in the
        # join-back below (unresolvable self-reference when df is a
        # temp view); toDF re-aliases every column
        .toDF(id_col, "__b", "__c")
    )
    # the raw distribution folds from the per-doc counts, and the
    # (id, bucket) table feeds the scoring join too — materialized once
    # because Spark re-executes (not reuses) the tokenize+explode+agg
    # subtree per consumer (scale probe: recompute was ~the whole
    # operator cost). localCheckpoint, not persist(): the operator
    # returns a lazy frame, so an explicit unpersist point doesn't
    # exist — checkpoint blocks are freed by the ContextCleaner when
    # the result frame is dropped, while a CacheManager entry would
    # leak executor storage across statements. Size = per-doc distinct
    # buckets ≤ corpus grams; checkpoint storage spills to disk.
    rdist = doc_grams.groupBy("__b").agg(F.sum("__c").alias("__rc"))
    r_total = rdist.agg(F.sum("__rc").alias("__rt"))
    # full bucket table with add-k smoothing: absent buckets still get
    # a (smoothed) ratio so unseen grams penalize, not crash
    all_b = df.sparkSession.range(buckets).select(
        F.col("id").cast("long").alias("__b")
    )
    ratios = (
        all_b.join(F.broadcast(tdist), "__b", "left")
        .join(F.broadcast(rdist), "__b", "left")
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(r_total))
        .select(
            "__b",
            (
                F.log(
                    (F.coalesce("__tc", F.lit(0)) + F.lit(smoothing))
                    / (F.col("__tt") + F.lit(smoothing * buckets))
                )
                - F.log(
                    (F.coalesce("__rc", F.lit(0)) + F.lit(smoothing))
                    / (F.col("__rt") + F.lit(smoothing * buckets))
                )
            ).alias("__lr"),
        )
    )
    scored = (
        doc_grams.join(F.broadcast(ratios), "__b")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("__c") * F.col("__lr")).alias("dsir_weight"),
            F.sum("__c").alias("n_grams"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("dsir_weight", F.lit(0.0)).alias("dsir_weight"),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        )
    )


# --- published-rule document filters -------------------------------------

# Gopher rule stop-list (Rae et al. 2021, "Scaling Language Models: ...
# Gopher", appendix A1.1): a doc must contain >=2 of these to pass.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher quality-filter signals (Rae et al. 2021, appendix A1.1).

    Per document, the full published rule set as columns plus the
    conjunction ``gopher_pass``:

    * ``g_n_words`` in [50, 100000]
    * ``mean_word_len`` in [3, 10]
    * ``symbol_word_ratio`` (``#`` + ``...``/``…`` per word) <= 0.1
    * ``bullet_line_frac`` (lines starting ``-``/``*``/``•``) <= 0.9
    * ``ellipsis_line_frac`` (lines ending ``...``/``…``) <= 0.3
    * ``alpha_word_frac`` (words containing [A-Za-z]) >= 0.8
    * ``n_stop_hits`` (distinct GOPHER_STOPWORDS present) >= 2

    All signals are split/filter/aggregate over token and line arrays —
    whole-stage codegen, zero shuffle, scan-speed at 100 TB. Ratios are
    raw doubles (integer-scale before comparing across engines; see
    with_text_stats). Charter operator beyond the reference
    (/root/reference covers no text analysis); thresholds are the
    published constants.
    """
    t = F.col(text_col)
    words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    nz_words = F.greatest(n_words, F.lit(1))
    total_chars = F.aggregate(
        words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = total_chars / nz_words
    n_symbols = (
        _count_of(t, "#")
        + F.regexp_count(t, F.lit(r"\.\.\."))
        + _count_of(t, "…")
    )
    symbol_ratio = n_symbols / nz_words
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    nz_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda l: F.substring(l, 1, 1).isin("-", "*", "•"),
            )
        )
        / nz_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(
                lines,
                lambda l: l.endswith("...") | l.endswith("…"),
            )
        )
        / nz_lines
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / nz_words
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    out = df.select(
        "*",
        n_words.alias("g_n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("n_stop_hits"),
    )
    gpass = (
        F.col("g_n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_stop_hits") >= 2)
    )
    return out.withColumn("gopher_pass", gpass)


def c4_clean(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020, §2.2 — the public heuristics).

    Line filter: keep a line iff (after trim) it ends in terminal
    punctuation (``.``/``!``/``?``/closing quote), has >= 5 words, and
    does not mention ``javascript`` (case-insensitive). Document flags:
    ``has_lorem`` ("lorem ipsum" anywhere), ``has_brace`` (``{`` — code
    marker). ``c4_pass`` = no flags and the cleaned text keeps >= 3
    sentences (terminal-punctuation count).

    Adds ``text_clean`` (kept lines re-joined), ``n_lines``/
    ``n_lines_kept``, the flags, ``n_sentences``, ``c4_pass``. Pure
    line/word array work in codegen — no shuffle, scan-speed.
    """
    t = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    kept = F.filter(
        lines,
        lambda l: (
            F.substring(l, -1, 1).isin(".", "!", "?", '"', "'")
            & (F.size(F.filter(F.split(l, r"\s+"), lambda w: w != "")) >= 5)
            & ~F.lower(l).contains("javascript")
        ),
    )
    clean = F.array_join(kept, "\n")
    out = df.select(
        "*",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_lines_kept"),
        clean.alias("text_clean"),
        F.lower(t).contains("lorem ipsum").alias("has_lorem"),
        t.contains("{").alias("has_brace"),
    ).withColumn(
        "n_sentences",
        (
            F.length(F.col("text_clean"))
            - F.length(F.translate(F.col("text_clean"), ".!?", ""))
        ).cast("bigint"),
    )
    c4_pass = (
        ~F.col("has_lorem") & ~F.col("has_brace") & (F.col("n_sentences") >= 3)
    )
    return out.withColumn("c4_pass", c4_pass)


# --- corpus vocabulary / term weighting ----------------------------------

def vocab_topk(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    ngram: int = 1,
    k: int = 1000,
) -> DataFrame:
    """Corpus-wide top-k n-gram vocabulary with document frequencies.

    The tokenizer-training prep step: lowercase whitespace tokens, word
    ``ngram``-grams, counted two ways — ``n_total`` (occurrences) and
    ``n_docs`` (documents containing the gram). Top ``k`` by
    ``(n_total DESC, gram ASC)`` — the tie-break makes the cut
    deterministic and cross-engine-exact.

    Scale shape: explode → groupBy(id, gram) (map-side combine collapses
    within-doc repeats) → groupBy(gram) with sum + count — two keyed
    shuffles whose width is O(distinct (doc, gram)), then a top-k
    (TakeOrdered, no global sort materialization). No skew hazard: the
    second groupBy's hot keys arrive pre-collapsed to one row per doc.
    """
    words = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "")
    if ngram == 1:
        gram = words
    else:
        gram = F.expr(
            f"CASE WHEN size(__w) < {ngram} THEN array() "
            f"ELSE transform(sequence(1, size(__w) - {ngram - 1}), "
            f"i -> concat_ws(' ', slice(__w, i, {ngram}))) END"
        )
    base = df.select(F.col(id_col), words.alias("__w"))
    grams = base.select(
        id_col, F.explode(gram if ngram > 1 else F.col("__w")).alias("gram")
    )
    per_doc = grams.groupBy(id_col, "gram").agg(F.count("*").alias("__c"))
    counts = per_doc.groupBy("gram").agg(
        F.sum("__c").alias("n_total"), F.count("*").alias("n_docs")
    )
    return counts.orderBy(F.desc("n_total"), F.asc("gram")).limit(k)


def tfidf_topk(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    idf: str = "rational",
) -> DataFrame:
    """Per-document top-k terms by tf-idf.

    ``idf='rational'`` (default) scores ``tf * (N + 1) / (df_t + 1)`` —
    the add-one-smoothed idf WITHOUT the log. Integer products and one
    IEEE division are bit-identical across engines, so rank order (and
    the differential) is exact; ``idf='log'`` applies
    ``ln((N+1)/(df_t+1)) + 1`` (sklearn's smooth variant) for users who
    want the standard curve. Ties break ``(score DESC, term ASC)``.

    Returns (id, term, tf, df_t, score, rank), rank ≤ k.

    Scale shape: per-doc term counts (one keyed shuffle), document
    frequencies from the same pre-collapsed frame (second keyed
    shuffle), corpus size N as a broadcast one-row join — no driver
    collect — then a join on term and a per-doc row_number window.
    Term-frequency skew is pre-collapsed; the window partitions by doc.
    """
    words = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "")
    grams = df.select(F.col(id_col), F.explode(words).alias("term"))
    tf = grams.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    n_docs = df.select(F.countDistinct(id_col).alias("__n"))
    scored = tf.join(dfreq, "term").join(F.broadcast(n_docs))
    if idf == "rational":
        score = F.col("tf") * (F.col("__n") + 1) / (F.col("df_t") + 1)
    elif idf == "log":
        score = F.col("tf") * (
            F.log((F.col("__n") + 1) / (F.col("df_t") + 1)) + F.lit(1.0)
        )
    else:  # pragma: no cover
        raise ValueError(f"tfidf_topk: unknown idf mode {idf!r}")
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("score", score)
        # bigint rank: matches DuckDB's row_number type so downstream
        # cross-engine comparisons see one schema
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df_t", "score", "rank")
    )
