"""Text-analysis operators (EXT-TEXT-*): language-ID, quality scoring,
token counting, document fingerprinting.

Everything is Catalyst built-ins over the exploded/array token
representation — no Python in the hot path; a 100 TB corpus scan stays
in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Tiny built-in stopword profiles for the n-gram/stopword language-ID
# heuristic.  Real deployments swap in bigger profiles; the machinery
# (array_intersect counts + deterministic arg-max) is the operator.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "value"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por"),
    "fr": ("le", "la", "de", "et", "un", "en", "que", "pour"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我"),
}

# BPE-ish token regex: word pieces, numbers, or single non-space marks —
# a public approximation of GPT-style pre-tokenization.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text_col: str = "text") -> Column:
    return F.split(F.lower(F.col(text_col)), " ")


def token_count_ws(text_col: str = "text") -> Column:
    """Whitespace token count."""
    return F.size(tokens(text_col)).cast("bigint")


def token_count_bpe_ish(text_col: str = "text") -> Column:
    """BPE-ish token count via regexp: counts word/number/punct pieces
    (regexp_count is JVM-side; no tokenizer library needed).  For the
    REAL merge-table tokenizer see :func:`token_count_bpe`."""
    return F.regexp_count(F.col(text_col), F.lit(BPE_ISH_PATTERN)).cast("bigint")


def token_count_bpe(text_col: str = "text") -> Column:
    """REAL BPE token count: the vendored merge table (ext/bpe.py,
    trained by scripts/train_bpe.py with the public subword-nmt
    algorithm) applied as a rank-ordered JVM-side replace chain —
    true subword counts, no Python UDF, whole-stage codegen."""
    from .bpe import spark_token_count_expr

    return F.expr(spark_token_count_expr(text_col)).cast("bigint")


def stopword_hits(lang: str, text_col: str = "text") -> Column:
    """Occurrence count (not distinct) of the profile words.

    One ``regexp_count`` pass per document instead of the previous
    ``size(filter(split(...), x -> x IN (...)))``: the HOF filter is
    CodegenFallback, which both interprets the per-token IN walk AND
    ejects the WHOLE enclosing Project from whole-stage codegen
    (r13 plan dumps).  Equivalence with the token form: tokens are
    maximal runs between single spaces, so padding the lowered text
    with one space on each side makes every token space-delimited;
    the pattern consumes ``" word"`` and asserts the trailing
    delimiter with a lookahead, so adjacent stopwords ("of the") both
    count; Java regex backtracks through the alternation, so prefix
    words ("a" vs "and") resolve by the lookahead, not by order.
    NULLs: concat propagates NULL and regexp_count(NULL) is NULL,
    matching size(NULL) (post-3.0).  Locked token-vs-regex by
    tests/test_text_pipeline.py."""
    import re as _re

    words = "|".join(_re.escape(w) for w in LANG_PROFILES[lang])
    pat = f" (?:{words})(?= )"
    return F.regexp_count(
        F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" ")),
        F.lit(pat)).cast("bigint")


def langid_scores(text_col: str = "text") -> list[Column]:
    return [stopword_hits(lang, text_col).alias(f"score_{lang}")
            for lang in LANG_PROFILES]


def langid_pred() -> Column:
    """Deterministic arg-max over the score columns (fixed priority
    order en>de>es>fr>zh on ties)."""
    langs = list(LANG_PROFILES)
    pred = F.lit(langs[0])
    best = F.col(f"score_{langs[0]}")
    for lang in langs[1:]:
        cond = F.col(f"score_{lang}") > best
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
        best = F.when(cond, F.col(f"score_{lang}")).otherwise(best)
    return pred


def punct_count(text_col: str = "text") -> Column:
    # regexp_count of the punctuation class == length of the text
    # with every non-punctuation char removed (single-char matches
    # can't overlap), without materializing the stripped string
    return F.regexp_count(
        F.col(text_col), F.lit(r"[.,!?;:]")).cast("bigint")


def quality_score(text_col: str = "text") -> Column:
    """Composite quality heuristic: favors mid-length docs with low
    punctuation density and a healthy stopword ratio (the standard
    pretraining-filter features; cf. C4/Gopher rules — public)."""
    n_tok = token_count_ws(text_col).cast("double")
    stop_ratio = stopword_hits("en", text_col).cast("double") / n_tok
    punct_ratio = punct_count(text_col).cast("double") / \
        F.length(text_col).cast("double")
    len_score = F.least(n_tok / F.lit(32.0), F.lit(1.0))
    return (F.lit(0.5) * len_score
            + F.lit(0.3) * F.least(stop_ratio * F.lit(4.0), F.lit(1.0))
            + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0),
                                                 F.lit(1.0))))


def normalized_fingerprint(text_col: str = "text") -> Column:
    """Canonical-form fingerprint: lowercase, collapse whitespace, md5.
    The exact-dedup key robust to spacing/case differences."""
    return F.md5(F.concat_ws(
        " ", F.split(F.trim(F.lower(F.col(text_col))), r"\s+")))


def shingle_fingerprint(text_col: str = "text", k: int = 5) -> Column:
    """Rolling-shingle fingerprint: min over md5 of all k-token
    shingles — a 1-permutation MinHash; two docs sharing any minimal
    shingle collide (near-dup blocking key).

    The token array is LET-BOUND through a one-element transform
    (lambda variables are slot reads), so the document is tokenized
    once — an inline split inside the shingle lambda would
    re-tokenize per shingle (see PERF.md, HOF-lambda inlining)."""
    return F.array_min(F.expr(
        f"element_at(transform(array(split(lower({text_col}), ' ')), "
        f"__T -> transform(sequence(1, greatest(size(__T) - {k - 1}, 1)), "
        f"i -> md5(concat_ws(' ', slice(__T, i, {k}))))), 1)"))


def chunk_documents(docs: DataFrame, chunk_tokens: int = 64,
                    overlap: int = 16, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard pretraining/RAG chunking op.  Pure array expressions
    (sequence + slice + posexplode): scan-local, no shuffle, no UDF.

    Output: (id, chunk_ix, chunk_text, n_chunk_tokens)."""
    step = chunk_tokens - overlap
    if step <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = F.split(F.col(text_col), " ")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(toks) - F.lit(overlap), F.lit(1)),
        F.lit(step))
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(toks, s, chunk_tokens)))
    exploded = docs.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_ix", "chunk_text"))
    return exploded.select(
        id_col,
        F.col("chunk_ix").cast("bigint").alias("chunk_ix"),
        "chunk_text",
        F.size(F.split(F.col("chunk_text"), " ")).cast("bigint")
        .alias("n_chunk_tokens"))


def hash_split(df: DataFrame, id_col: str, train_frac: float = 0.9,
               salt: str = "split-v1") -> DataFrame:
    """Deterministic train/holdout assignment by content hash — stable
    across runs, partitionings and cluster sizes (never rand(): a
    resampled split silently leaks holdout into training).

    Uses the first 8 hex digits of md5(salt || id) as a uniform
    32-bit draw; engine-portable (md5 is identical everywhere)."""
    draw = hash_draw(id_col, salt, n_hex=8)
    threshold = int(train_frac * 0xFFFFFFFF)
    return df.withColumn(
        "split",
        F.when(draw <= F.lit(threshold), F.lit("train"))
        .otherwise(F.lit("holdout")))


def hash_draw(id_col: str, salt: str, n_hex: int = 8) -> Column:
    """Deterministic uniform draw in ``[0, 16^n_hex)``: the first
    ``n_hex`` hex digits of ``md5(salt || id)``.  Engine-portable —
    the DuckDB twin is ``CAST(('0x' || substring(md5(...), 1, n))
    AS BIGINT)`` — and stable across runs, partitionings and cluster
    sizes (never ``rand()``).  Single source of truth for every
    sampling/splitting/packing draw below: the hex width and salt are
    part of each oracle's contract."""
    return F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        1, n_hex), 16, 10).cast("bigint")


def quality_prune(docs: DataFrame, keep_frac: float = 0.5,
                  by: str = "lang", id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Quality-percentile pruning: keep the top ``keep_frac`` of each
    group by quality score — the standard "filter to the best half"
    pretraining curation step, per language so a low-resource language
    is pruned against its own distribution, not English's.

    The cut is a per-group exact quantile *threshold* joined back and
    applied as a scan-local filter — NOT a per-group global sort: the
    threshold table is |groups| rows (broadcast), so the corpus itself
    never shuffles.  Exact ``percentile`` buffers each group's values
    in the agg; at 100 TB swap in ``approx_percentile`` (same shape,
    sketch-mergeable) — the threshold join/filter stays identical.
    Ties at the threshold are kept (deterministic, may slightly exceed
    ``keep_frac``).
    """
    scored = docs.select(id_col, by, quality_score(text_col).alias("quality"))
    thr = scored.groupBy(by).agg(
        F.expr(f"percentile(quality, {1.0 - keep_frac!r})").alias("q_thr"))
    return (scored.join(F.broadcast(thr), by)
            .filter(F.col("quality") >= F.col("q_thr"))
            .select(id_col, by, "quality", "q_thr"))


def mix_epochs(docs: DataFrame, budget_tokens: int,
               group_col: str = "source", max_epochs: int = 4,
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Per-source epoch (repeat) planning: split a total token budget
    equally across sources and repeat each source's documents enough
    whole epochs to fill its share, capped at ``max_epochs`` (repeating
    a small high-quality source a few times is standard pretraining
    practice; repeating it dozens of times degrades, hence the cap).

    All-integer arithmetic (token counts, integer division) — the
    plan is bit-portable by construction.  Each doc is emitted once
    per epoch with ``repeat_ix`` 0..epochs-1; downstream shuffling
    (``deterministic_shuffle`` salts by id) spreads the repeats.

    Scale shape: per-source token totals are a tiny aggregation; the
    repeat factor joins back broadcast; the explode multiplies rows
    scan-local with no shuffle.
    """
    toks = docs.select(id_col, group_col,
                       token_count_ws(text_col).alias("__t"))
    totals = toks.groupBy(group_col).agg(
        F.sum("__t").cast("bigint").alias("__tok_total"))
    n_src = totals.agg(F.count("*").alias("__n_src"))
    plan = (totals.crossJoin(F.broadcast(n_src))
            .withColumn("__share",
                        F.expr(f"{int(budget_tokens)} div __n_src"))
            .withColumn(
                "epochs",
                F.least(F.lit(max_epochs),
                        F.greatest(F.lit(1),
                                   F.expr("__share div __tok_total")))
                .cast("int"))
            .select(group_col, "__tok_total", "epochs"))
    return (toks.join(F.broadcast(plan), group_col)
            .select(id_col, group_col, "epochs",
                    F.explode(F.sequence(
                        F.lit(0), F.col("epochs") - 1)).alias("repeat_ix")))


def temperature_sample(df: DataFrame, id_col: str, group_col: str,
                       target_frac: float = 0.5,
                       salt: str = "temp-v1") -> DataFrame:
    """Temperature-weighted source mixing at T = 0.5 — the standard
    LLM-pretraining rebalancing step (mixture weight per source
    ``w_g ∝ n_g^T``, so over-represented sources are down-sampled and
    small sources up-weighted relative to proportional sampling).

    Per-group acceptance probability for an expected sample of
    ``target_frac * N`` docs::

        p_g = min(1, target_frac * N * (sqrt(n_g) / Z) / n_g),
        Z = sum_g sqrt(n_g)

    Determinism contract (the oracle hashes values, not just rows):

    - T is fixed at 0.5 so the weight is ``sqrt`` — IEEE-correctly-
      rounded and bit-identical across engines; ``pow(x, 0.7)`` is
      NOT (Math.pow vs libm differ in the last ulp).
    - ``Z`` is summed in DECIMAL(38,18) (exact, order-independent),
      then cast to double — a double sum would depend on group order.
    - The per-doc draw is the md5 ``hash_draw`` / 2^32, never rand().

    Scale shape: the group stats are a tiny aggregation (source
    cardinality); the totals row and the per-group probabilities are
    broadcast; the sample itself is one scan-local filter — no
    shuffle of the corpus at all.
    """
    n = F.col("__n")
    stats = df.groupBy(group_col).agg(F.count("*").alias("__n"))
    tot = stats.agg(
        F.sum(F.sqrt(n.cast("double")).cast("decimal(38,18)"))
        .cast("double").alias("__z"),
        F.sum(n).alias("__tot_n"))
    p = (stats.crossJoin(F.broadcast(tot))
         .withColumn(
             "p_keep",
             F.least(F.lit(1.0),
                     F.lit(target_frac) * F.col("__tot_n").cast("double")
                     * (F.sqrt(n.cast("double")) / F.col("__z"))
                     / n.cast("double")))
         .select(group_col, "p_keep"))
    u = (hash_draw(id_col, salt, n_hex=8).cast("double")
         / F.lit(4294967296.0))
    return (df.join(F.broadcast(p), group_col)
            .filter(u < F.col("p_keep")))


def pack_sequences(df: DataFrame, id_col: str, token_count_col: Column,
                   seq_len: int = 2048, n_shards: int = 32,
                   salt: str = "pack-v1") -> DataFrame:
    """Assign documents to fixed-budget training sequences — the
    packing step that turns a shuffled corpus into ~``seq_len``-token
    concatenation groups.

    Deterministic greedy-by-hash-order packing: docs are dealt into
    ``n_shards`` pseudo-random shards (md5 draw — stable, engine-
    portable), ordered within the shard by the same draw, and cut
    into sequences wherever the running token total crosses the
    budget (a doc that crosses the boundary starts in its sequence —
    the standard first-fit-in-order approximation).  One window pass
    per shard: shards are hash partitions, so packing 100 TB
    parallelizes across n_shards × executors with no global sort.

    Output: id, shard, seq (per-shard sequence number), n_tokens.
    """
    draw = hash_draw(id_col, salt, n_hex=12)
    shard = (draw % n_shards).cast("int")
    w = (Window.partitionBy("shard")
         .orderBy("__draw", id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (df.select(F.col(id_col),
                     draw.alias("__draw"),
                     shard.alias("shard"),
                     token_count_col.cast("bigint").alias("n_tokens"))
           .withColumn("__cum", F.sum("n_tokens").over(w))
           .withColumn("seq", F.floor(
               (F.col("__cum") - F.col("n_tokens"))
               / F.lit(float(seq_len))).cast("bigint"))
           .drop("__draw", "__cum"))
    return out


def stratified_sample(df: DataFrame, id_col: str, stratum_col: str,
                      fractions: dict[str, float],
                      default_frac: float = 0.0,
                      salt: str = "strata-v1") -> DataFrame:
    """Deterministic per-stratum sampling — the dataset-mixing
    primitive (e.g. keep 50% of English, 20% of everything else).

    Same md5-draw scheme as :func:`hash_split` (stable across runs,
    partitionings and cluster sizes, never ``rand()``/``sampleBy``),
    with the per-row threshold chosen by the stratum column — one
    scan-local projection + filter, no shuffle, exact oracle twin.
    The comparison is STRICT against ``frac * 2^32`` so 0.0 keeps
    nothing (a zero threshold must not leak draw==0 rows) and 1.0
    keeps everything.
    """
    draw = hash_draw(id_col, salt, n_hex=8)
    thr = F.lit(int(default_frac * 0x100000000))
    for value, frac in sorted(fractions.items()):
        thr = F.when(F.col(stratum_col) == value,
                     F.lit(int(frac * 0x100000000))).otherwise(thr)
    return df.filter(draw < thr)


def repetition_stats(text_col: str = "text") -> list[Column]:
    """Gopher-style intra-document repetition signals: total tokens,
    distinct tokens and the duplicate-token ratio
    ``1 - distinct/total`` (0 = no repetition, →1 = one token repeated
    throughout).  Scan-local array expressions — no shuffle, no UDF;
    the 100 TB corpus pass stays in whole-stage codegen."""
    w = tokens(text_col)
    total = F.size(w).cast("bigint")
    distinct = F.size(F.array_distinct(w)).cast("bigint")
    # IEEE ops over exact integers — bit-identical across engines
    ratio = (F.lit(1.0) - distinct.cast("double") / total.cast("double"))
    return [total.alias("n_tokens"), distinct.alias("n_distinct"),
            ratio.alias("rep_ratio")]


def vocab_topk(docs: DataFrame, k: int = 20, text_col: str = "text",
               lang_col: str = "lang") -> DataFrame:
    """Corpus vocabulary: top-``k`` tokens per language by frequency
    (the BPE-training / tokenizer-audit primitive).  explode →
    partial-agg count (map-side combine collapses each partition to
    its local vocabulary before the single shuffle) → per-language
    window rank.  Ties break lexicographically so the result is
    deterministic and oracle-exact."""
    toks = docs.select(F.col(lang_col).alias("lang"),
                       F.explode(tokens(text_col)).alias("tok"))
    counts = toks.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("lang", "tok", "n", "rank"))


def deterministic_shuffle(df: DataFrame, id_col: str,
                          salt: str = "shuffle-v1",
                          n_buckets: int = 64) -> DataFrame:
    """Deterministic global shuffle for training-batch ordering: every
    row gets a stable ``position`` equal to its rank under
    ``(hash_draw(id), id)`` — reproducible across runs, partitionings
    and cluster sizes (never ``rand()``), so a resumed training job
    sees the identical order.

    Scale shape (no global single-partition sort): range-bucket the
    uniform draw into ``n_buckets``, rank within each bucket
    (parallel windows), and add per-bucket offsets computed by a
    cumulative sum over the tiny ``n_buckets``-row count table
    (broadcast back).  Two shuffles total, one of them over
    ``n_buckets`` rows; position is exact and contiguous from 0."""
    draw = hash_draw(id_col, salt, n_hex=8)
    bucket = F.floor(draw / F.lit(0x100000000 / n_buckets)).cast("int")
    keyed = df.withColumn("__draw", draw).withColumn("__b", bucket)
    counts = keyed.groupBy("__b").agg(F.count("*").alias("__n"))
    # n_buckets rows: the single-partition window is over a tiny frame
    off_w = (Window.orderBy("__b")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "__b", F.coalesce(F.sum("__n").over(off_w), F.lit(0)).alias("__off"))
    in_b = F.row_number().over(
        Window.partitionBy("__b").orderBy("__draw", id_col))
    return (keyed.join(F.broadcast(offsets), "__b")
            .withColumn("position", (F.col("__off") + in_b - 1).cast("bigint"))
            .drop("__draw", "__b", "__off"))


def boilerplate_shingles(docs: DataFrame, n: int = 4, min_docs: int = 3,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Corpus-level boilerplate detection (the CCNet/RefinedWeb move):
    a word-``n``-gram that recurs across many *distinct* documents is
    template chrome (headers, footers, nav bars), not content — list
    it with its document frequency so a cleaning pass can strip it.

    Scale shape: shingling is scan-local Catalyst array expressions
    (per-doc distinct, so count(*) == distinct-doc frequency), then ONE
    hash aggregation over (shingle) — map-side partial counts collapse
    the overwhelmingly-unique tail before the shuffle, and the
    ``min_docs`` filter keeps the output to the tiny recurring head.
    """
    from .contamination import _grams_expr

    per_doc = docs.select(
        F.col(id_col), F.explode(F.expr(_grams_expr(text_col, n)))
        .alias("shingle"))
    return (per_doc.groupBy("shingle")
            .agg(F.count("*").alias("doc_freq"))
            .filter(F.col("doc_freq") >= min_docs))


def interleave_weighted(df: DataFrame, id_col: str, source_col: str,
                        weights: dict[str, int], default_weight: int = 1,
                        salt: str = "interleave-v1",
                        n_buckets: int = 64) -> DataFrame:
    """Deterministic weighted corpus mixing — stride scheduling over
    integer virtual time, the training-mix analog of weighted fair
    queuing.  A source with weight ``w`` contributes its ``i``-th
    (hash-shuffled) document at ``vtime = i * (L / w)`` where ``L`` is
    the lcm of all weights: sorting by ``vtime`` yields a smooth
    interleave where each source appears proportionally to its weight,
    exactly and reproducibly (pure integer arithmetic — no float
    priorities, no rand(), no epoch boundaries).

    Scale shape: per-source ranks come from the same range-bucketed
    parallel-window trick as :func:`deterministic_shuffle` (the draw is
    uniform, so bucket counts are balanced; the only single-partition
    window runs over the tiny ``sources x n_buckets`` count table).
    Consumers range-partition by ``vtime`` to write ordered shards —
    no global sort here.
    """
    import math

    lcm = math.lcm(default_weight, *weights.values())
    draw = hash_draw(id_col, salt, n_hex=8)
    bucket = F.floor(draw / F.lit(0x100000000 / n_buckets)).cast("int")
    keyed = df.withColumn("__draw", draw).withColumn("__b", bucket)
    counts = keyed.groupBy(source_col, "__b").agg(F.count("*").alias("__n"))
    off_w = (Window.partitionBy(source_col).orderBy("__b")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        source_col, "__b",
        F.coalesce(F.sum("__n").over(off_w), F.lit(0)).alias("__off"))
    in_b = F.row_number().over(
        Window.partitionBy(source_col, "__b").orderBy("__draw", id_col))
    stride = None
    for s, w in sorted(weights.items()):
        cond = F.col(source_col) == s
        stride = (F.when(cond, F.lit(lcm // w)) if stride is None
                  else stride.when(cond, F.lit(lcm // w)))
    stride = (F.lit(lcm // default_weight) if stride is None
              else stride.otherwise(F.lit(lcm // default_weight)))
    return (keyed.join(F.broadcast(offsets), [source_col, "__b"])
            .withColumn("src_rank", (F.col("__off") + in_b).cast("bigint"))
            .withColumn("vtime", (F.col("src_rank") * stride).cast("bigint"))
            .drop("__draw", "__b", "__off"))


# deliberately simple, engine-portable patterns (no \b / lookaround —
# identical under Java regex and RE2)
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_DIGITS_PATTERN = r"[0-9][0-9 ()+.-]{6,}[0-9]"


def redact(text_col: str = "text") -> Column:
    """PII scrubbing for training corpora: mask emails and long digit
    runs (phone/account numbers).  Single scan-local projection."""
    c = F.regexp_replace(F.col(text_col), EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(c, LONG_DIGITS_PATTERN, "<NUM>")


def pii_counts(text_col: str = "text") -> tuple[Column, Column]:
    return (F.regexp_count(F.col(text_col), F.lit(EMAIL_PATTERN))
            .cast("bigint"),
            F.regexp_count(F.col(text_col), F.lit(LONG_DIGITS_PATTERN))
            .cast("bigint"))


def corpus_filter_funnel(docs: DataFrame, min_tokens: int = 24,
                         min_quality: float = 0.55, lang: str = "en",
                         text_col: str = "text") -> DataFrame:
    """Composed pretraining-filter funnel — length -> lang-id ->
    quality -> exact-dedup — with per-stage survivor counts, computed
    in ONE pass as conditional aggregation.  At 100 TB this is the
    shape that matters: one scan + one (tiny) aggregate, instead of
    re-scanning the corpus once per filter stage.  Returns a single
    row: n_raw >= n_len >= n_lang >= n_quality >= n_unique.
    """
    d = docs.select(
        F.col(text_col),
        token_count_ws(text_col).alias("__tok"),
        quality_score(text_col).alias("__q"),
        normalized_fingerprint(text_col).alias("__fp"),
        *langid_scores(text_col))
    d = d.withColumn("__pred", langid_pred())
    tok_ok = F.col("__tok") >= F.lit(min_tokens)
    lang_ok = tok_ok & (F.col("__pred") == F.lit(lang))
    q_ok = lang_ok & (F.col("__q") >= F.lit(min_quality))
    return d.agg(
        F.count("*").alias("n_raw"),
        F.count(F.when(tok_ok, 1)).alias("n_len"),
        F.count(F.when(lang_ok, 1)).alias("n_lang"),
        F.count(F.when(q_ok, 1)).alias("n_quality"),
        F.countDistinct(F.when(q_ok, F.col("__fp"))).alias("n_unique"))


def length_buckets(df: DataFrame, bucket_tokens: int = 64,
                   text_col: str = "text") -> DataFrame:
    """Token-length bucketing for batch packing / curriculum
    scheduling: docs grouped into fixed-width token-count buckets
    (integer arithmetic only — exact on any engine).  One scan + one
    aggregate on the bucket key."""
    d = df.select(token_count_ws(text_col).alias("__tok"))
    return (d.withColumn(
                "bucket_start",
                F.expr(f"(__tok div {int(bucket_tokens)}) "
                       f"* {int(bucket_tokens)}"))
            .groupBy("bucket_start")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("__tok").alias("sum_tokens"),
                 F.min("__tok").alias("min_tokens"),
                 F.max("__tok").alias("max_tokens")))


def simpson_diversity(text_col: str = "text") -> list[Column]:
    """Distribution-weighted lexical diversity: the Gini–Simpson index
    ``1 - Σ (c_t / n)²`` over per-document token frequencies (1 =
    perfectly diverse, 0 = one token repeated).  Complements the
    type-token ``rep_ratio``: two docs with equal distinct counts but
    different skew separate here.

    Scan-local: token counts come from ``aggregate`` over the sorted
    token array — Σ c_t² and n are exact integers, so the single
    double division is bit-identical across engines (no log() in the
    formula by design; log ulp differences break oracle hashing)."""
    w = F.array_sort(tokens(text_col))
    n = F.size(w).cast("bigint")
    # runs in the sorted array: c_t² summed by counting run boundaries
    # — aggregate fold carrying (prev token, run length, Σ c²)
    c2 = F.expr(
        "aggregate(array_sort(split(lower(text), ' ')), "
        "struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run, "
        "CAST(0 AS BIGINT) AS acc), "
        "(s, x) -> IF(s.prev IS NULL OR x != s.prev, "
        "  struct(x AS prev, CAST(1 AS BIGINT) AS run, "
        "         s.acc + s.run * s.run AS acc), "
        "  struct(x AS prev, s.run + 1 AS run, s.acc AS acc)), "
        "s -> s.acc + s.run * s.run)")
    simpson = (F.lit(1.0) - c2.cast("double")
               / (n.cast("double") * n.cast("double")))
    return [n.alias("n_tokens"), simpson.alias("simpson")]


def token_chars(text_col: str = "text",
                toks_col: str | None = None) -> Column:
    """Total characters across whitespace tokens (separators
    excluded) — the denominator of the Gopher repetition fractions.
    One fold over the token array, scan-local.  Pass ``toks_col``
    (the name of a pre-split token-array column) when combining
    several token ops in one projection — expressions inside HOF
    lambdas are re-evaluated PER ELEMENT, so an inline split would
    re-tokenize the document for every element (measured 4-5x on
    the n-gram ops; binding the array once makes every element_at a
    slot read)."""
    toks = toks_col or f"split(lower({text_col}), ' ')"
    return F.expr(
        f"aggregate({toks}, "
        "CAST(0 AS BIGINT), (a, x) -> a + length(x))")


def _dup_unit_counts_sql(split_sql: str) -> str:
    """SQL for struct(n, dup_n, chars, dup_chars) over one array of
    text units (lines / paragraphs): a unit instance is 'duplicated'
    when its value occurs more than once in the document (ALL
    occurrences count, the Gopher convention).  One fold over the
    sorted unit array — runs close on value change and at the end."""
    return (
        f"aggregate(array_sort({split_sql}), "
        "struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run, "
        "       CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS dn, "
        "       CAST(0 AS BIGINT) AS ch, CAST(0 AS BIGINT) AS dch), "
        "(s, x) -> IF(s.prev IS NULL OR x != s.prev, "
        "  struct(x AS prev, CAST(1 AS BIGINT) AS run, "
        "         s.n + 1 AS n, "
        "         s.dn + IF(s.run >= 2, s.run, CAST(0 AS BIGINT)) AS dn, "
        "         s.ch + length(x) AS ch, "
        "         s.dch + IF(s.run >= 2, s.run * length(s.prev), "
        "                    CAST(0 AS BIGINT)) AS dch), "
        "  struct(x AS prev, s.run + 1 AS run, s.n + 1 AS n, s.dn AS dn, "
        "         s.ch + length(x) AS ch, s.dch AS dch)), "
        "s -> struct(s.n AS n, "
        "            s.dn + IF(s.run >= 2, s.run, CAST(0 AS BIGINT)) AS dn, "
        "            s.ch AS ch, "
        "            s.dch + IF(s.run >= 2, s.run * length(s.prev), "
        "                       CAST(0 AS BIGINT)) AS dch))")


def gopher_line_counts(text_col: str = "text") -> list[Column]:
    """Gopher rules (Rae et al. 2021, A1.1) duplicate line /
    paragraph counters, as exact INTEGER components so corpus-level
    fractions aggregate as ratio-of-sums (hash-stable; never
    avg-of-doubles): ``n_lines, dup_lines, line_chars,
    dup_line_chars`` and the paragraph quadruple.  Lines split on
    \\n, paragraphs on \\n\\n.  Scan-local folds — no shuffle, no
    UDF; the corpus quality pass stays one pass over the scan."""
    ln = F.expr(_dup_unit_counts_sql(f"split({text_col}, '\\n')"))
    pa = F.expr(_dup_unit_counts_sql(f"split({text_col}, '\\n\\n')"))
    return [
        ln["n"].alias("n_lines"), ln["dn"].alias("dup_lines"),
        ln["ch"].alias("line_chars"), ln["dch"].alias("dup_line_chars"),
        pa["n"].alias("n_paras"), pa["dn"].alias("dup_paras"),
        pa["ch"].alias("para_chars"), pa["dch"].alias("dup_para_chars"),
    ]


def top_ngram_chars(n: int, text_col: str = "text",
                    toks_col: str | None = None) -> Column:
    """Characters contained in occurrences of the document's most
    frequent token ``n``-gram (count × the gram's token characters,
    separators excluded) — the numerator of Gopher's top-n-gram
    fraction over :func:`token_chars`.  Ties break toward the
    lexicographically smallest gram (the fold walks the SORTED gram
    array, so the first run to reach the maximum wins and later
    equal runs cannot displace it — deterministic, oracle-exact).
    Documents shorter than ``n`` tokens contribute 0."""
    if n < 2:
        raise ValueError("top_ngram_chars needs n >= 2 (unigram "
                         "repetition is repetition_stats)")
    # bind the token array: an inline split inside the transform
    # lambda re-tokenizes the document per gram (measured 1.49s ->
    # 0.29s at sf0.1).  Without a caller-provided column, LET-BIND
    # it through a one-element transform below.
    toks = toks_col or "__T"
    gram = " || ' ' || ".join(f"element_at({toks}, i + {j})"
                              for j in range(n))
    grams = (f"transform(sequence(1, size({toks}) - {n - 1}), "
             f"i -> {gram})")
    # the finish lambda resolves the final run AND produces the
    # numerator, so the fold is referenced (and evaluated) once
    fold = (
        f"aggregate(array_sort({grams}), "
        "struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run, "
        "       CAST(0 AS BIGINT) AS best, CAST('' AS STRING) AS bv), "
        "(s, x) -> IF(s.prev IS NULL OR x != s.prev, "
        "  struct(x AS prev, CAST(1 AS BIGINT) AS run, "
        "         IF(s.run > s.best, s.run, s.best) AS best, "
        "         IF(s.run > s.best, s.prev, s.bv) AS bv), "
        "  struct(x AS prev, s.run + 1 AS run, s.best AS best, "
        "         s.bv AS bv)), "
        "s -> IF(s.prev IS NULL, CAST(0 AS BIGINT), "
        f"  IF(s.run > s.best, "
        f"     s.run * (length(s.prev) - {n - 1}), "
        f"     s.best * (length(s.bv) - {n - 1}))))")
    body = f"IF(size({toks}) < {n}, CAST(0 AS BIGINT), {fold})"
    if toks_col is None:
        body = (f"element_at(transform(array("
                f"split(lower({text_col}), ' ')), __T -> {body}), 1)")
    return F.expr(body)


def with_dup_ngram_coverage(docs: DataFrame, n: int,
                            text_col: str = "text",
                            out_col: str | None = None,
                            toks_col: str | None = None) -> DataFrame:
    """Gopher's duplicate-n-gram character coverage: characters of
    token positions covered by at least one occurrence of an n-gram
    that appears 2+ times in the document, counting each character
    ONCE (the paper's 'we do not count characters more than once' —
    overlapping and adjacent occurrences union, never sum).

    Scan shape for 100 TB: everything is per-row array expressions —
    gram+position structs sorted once, duplicated occurrences marked
    by sorted-neighbor equality, and a single fold over the sorted
    start positions merges intervals while summing token lengths
    via slices of the bound token array.  The intermediates are REAL
    columns (each referenced more than once), so Catalyst keeps them
    as per-row values instead of re-evaluating inside lambdas; no
    shuffle, no UDF, no explode."""
    if n < 2:
        raise ValueError("with_dup_ngram_coverage needs n >= 2")
    out = out_col or f"dup{n}gram_chars"
    toks_c, s_c, st_c = toks_col or f"__t{n}", f"__s{n}", f"__st{n}"
    toks = f"split(lower({text_col}), ' ')"
    gp = (f"transform(sequence(1, greatest(size({toks_c}) - {n - 1}, "
          "CAST(0 AS INT))), "
          f"i -> struct(concat_ws(' ', slice({toks_c}, i, {n})) AS g, "
          "i AS p))")
    dup_starts = (
        f"array_sort(transform(filter(sequence(1, size({s_c})), "
        f"i -> (i > 1 AND element_at({s_c}, i).g = "
        f"       element_at({s_c}, i - 1).g) "
        f"   OR (i < size({s_c}) AND element_at({s_c}, i).g = "
        f"       element_at({s_c}, i + 1).g)), "
        f"i -> element_at({s_c}, i).p))")
    # interval-union fold: state (cover_end, chars); each start s
    # contributes tokens [max(s, cover_end+1) .. s+n-1]
    covered = (
        f"aggregate({st_c}, "
        "struct(CAST(0 AS INT) AS ce, CAST(0 AS BIGINT) AS ch), "
        "(s, t) -> struct("
        f"  greatest(s.ce, t + {n - 1}) AS ce, "
        f"  s.ch + IF(greatest(t, s.ce + 1) <= t + {n - 1}, "
        f"    aggregate(slice({toks_c}, greatest(t, s.ce + 1), "
        f"              t + {n - 1} - greatest(t, s.ce + 1) + 1), "
        "      CAST(0 AS BIGINT), (a, w) -> a + length(w)), "
        "    CAST(0 AS BIGINT)) AS ch), "
        "s -> s.ch)")
    # the size guard keeps sequence() ascending (sequence(1, 0)
    # would DESCEND in Spark SQL) and types the empty branch
    empty = f"CAST(array() AS ARRAY<STRUCT<g: STRING, p: INT>>)"
    if toks_col is None:
        docs = docs.withColumn(toks_c, F.expr(toks))
    out_df = (docs
              .withColumn(s_c, F.expr(
                  f"IF(size({toks_c}) < {n}, {empty}, "
                  f"array_sort({gp}))"))
              .withColumn(st_c, F.expr(dup_starts))
              .withColumn(out, F.expr(covered))
              .drop(s_c, st_c))
    return out_df if toks_col else out_df.drop(toks_c)


def gopher_word_rules(text_col: str = "text",
                      min_words: int = 24,
                      max_words: int = 100_000) -> list[Column]:
    """Gopher quality rules (Rae et al. 2021, A1.1), the word-level
    half, as per-document booleans: word count in range, mean word
    length in [3, 10], >= 80% of words contain an alphabetic
    character, symbol-to-word ratio (# and ...) <= 0.1, and at
    least 2 stopword hits.  EVERY comparison is integer arithmetic
    (mean in [3,10] becomes 3n <= chars <= 10n; 80% becomes
    5*alpha >= 4*n) — no float divisions, so the booleans are
    hash-exact across engines.  Scan-local expressions only."""
    toks = f"split(lower({text_col}), ' ')"
    n = F.expr(f"size({toks})").cast("bigint")
    tc = token_chars(text_col)
    alpha = F.expr(
        f"size(filter({toks}, x -> x rlike '[a-z]'))").cast("bigint")
    symbols = (F.expr(f"regexp_count({text_col}, '#')")
               + F.expr(f"regexp_count({text_col}, '\\\\.\\\\.\\\\.')")
               ).cast("bigint")
    stops = stopword_hits("en", text_col)
    return [
        ((n >= min_words) & (n <= max_words)).alias("word_count_ok"),
        ((tc >= 3 * n) & (tc <= 10 * n)).alias("mean_len_ok"),
        (alpha * 5 >= n * 4).alias("alpha_ok"),
        (symbols * 10 <= n).alias("symbol_ok"),
        (stops >= 2).alias("stopword_ok"),
    ]


# ------------------------------------------------------------------- C4
# Raffel et al. 2020 ("Exploring the Limits of Transfer Learning",
# §2.2) — the C4 cleaning recipe, the other most-cited public
# curation rule set next to Gopher's.  Same design contract as the
# Gopher ops: scan-local expressions only (no shuffle/UDF/explode),
# integer counters and booleans so corpus fractions aggregate as
# ratio-of-sums and every output is hash-exact across engines.

# "terminal punctuation mark (i.e. a period, exclamation mark,
# question mark, or end quotation mark)"
_C4_TERMINAL = (".", "!", "?", '"')

# placeholder blocklist — the paper uses the public "List of Dirty,
# Naughty, Obscene or Otherwise Bad Words"; swap in the full list at
# deployment (the operator is the mechanism, not the lexicon).  Both
# C4 implementations, c4_page_rules and ext/text_arrow.c4_rules_kernel,
# read this and _C4_TERMINAL when they are called.
C4_BLOCKLIST: tuple[str, ...] = ("nsfw", "xxx")


def _c4_keep_line_sql(line_var: str) -> str:
    """C4's line filter for one line expression: ends in a terminal
    punctuation mark, has >= 5 words, and does not mention
    'javascript' (case-insensitive).  The word count is a
    ``regexp_count`` of the space runs (tokens = runs + 1 on a
    trimmed line — exact also for the empty line: split('') is ['']
    = 0 runs + 1), which avoids building a token array per line
    inside the (interpreted) HOF lambda."""
    terms = ", ".join(f"'{c}'" for c in _C4_TERMINAL)
    return (f"right(rtrim({line_var}), 1) IN ({terms}) "
            f"AND regexp_count(trim({line_var}), ' +') >= 4 "
            f"AND NOT contains(lower({line_var}), 'javascript')")


def c4_line_stats(text_col: str = "text") -> list[Column]:
    """C4 line-filter counters + the retained page, as columns:
    ``n_lines``, ``kept_lines``, ``kept_chars`` (exact bigints) and
    ``clean_text`` (the kept lines re-joined).  One bound line-array
    column per document; the keep predicate references only the
    lambda variable, so the filter is a single scan-local pass."""
    lines = f"split({text_col}, '\\n')"
    kept = f"filter({lines}, l -> {_c4_keep_line_sql('l')})"
    return [
        F.expr(f"size({lines})").cast("bigint").alias("n_lines"),
        F.expr(f"size({kept})").cast("bigint").alias("kept_lines"),
        F.expr(f"aggregate({kept}, CAST(0 AS BIGINT), "
               "(a, l) -> a + length(l))").alias("kept_chars"),
        F.expr(f"array_join({kept}, '\\n')").alias("clean_text"),
    ]


def c4_page_rules(text_col: str = "text",
                  clean_col: str | None = None,
                  blocklist: tuple[str, ...] | None = None
                  ) -> list[Column]:
    """C4 page-level booleans: >= 3 sentences on the RETAINED text
    (terminal-punct occurrences as the sentence proxy), no
    'lorem ipsum', no curly brace (code), and no blocklist hit —
    each an independent column so a funnel report can attribute
    drops per rule.  ``clean_col`` names a pre-computed
    :func:`c4_line_stats` ``clean_text`` column (the paper counts
    sentences after line filtering); defaults to recomputing it.
    ``blocklist`` defaults to :data:`C4_BLOCKLIST` as it stands when
    this is called."""
    if blocklist is None:
        blocklist = C4_BLOCKLIST
    clean = clean_col or (
        f"array_join(filter(split({text_col}, '\\n'), "
        f"l -> {_c4_keep_line_sql('l')}), '\\n')")
    lo = f"lower({text_col})"
    bad = " OR ".join(f"contains({lo}, '{w}')" for w in blocklist) \
        or "false"
    return [
        (F.expr(f"regexp_count({clean}, '[.!?]')") >= 3)
        .alias("sentences_ok"),
        (~F.expr(f"contains({lo}, 'lorem ipsum')")).alias("lorem_ok"),
        (~F.expr(f"contains({text_col}, '{{')")).alias("brace_ok"),
        (~F.expr(bad)).alias("blocklist_ok"),
    ]


def _bigram_bucket_sql(toks: str, i: str, n_buckets: int) -> str:
    """Hashed-bigram feature bucket (md5-based so DuckDB rebuilds it
    bit-for-bit): first 8 hex digits of md5('w1 w2') mod B."""
    return (f"CAST(conv(substring(md5(concat_ws(' ', "
            f"slice({toks}, {i}, 2))), 1, 8), 16, 10) AS BIGINT) "
            f"% {n_buckets}")


def dsir_weights(raw: DataFrame, target: DataFrame | None = None,
                 n_buckets: int = 1024, scale: int = 1_000_000,
                 text_col: str = "text",
                 target_where: str | None = None) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, 'Data
    Selection for Language Models via Importance Resampling'):
    hashed-bigram bucket frequencies of a TARGET corpus vs the RAW
    corpus.  This is the log-free variant — per-bucket weight
    ``floor(scale * (c_target+1) / (c_raw+1))`` is an exact INTEGER
    (the paper's log-ratio estimator needs ln(), whose last-ulp
    differs across engines and breaks oracle hashing; the integer
    ratio keeps the same up-weight-target-like-buckets direction
    and is hash-exact).  Normalization constants drop out of any
    ranking.  Returns ``(bucket, w)`` — ``n_buckets`` rows.

    ``target_where`` (SQL predicate) replaces the separate
    ``target`` frame when the target is a SUBSET of raw — then the
    whole weight table comes from ONE corpus pass (conditional
    count), not two.

    Scale shape: wordcount-style aggregation(s) whose outputs are
    B rows each; the corpora never leave the executors un-combined
    (map-side partial aggregation collapses each partition to at
    most B rows before the shuffle).  The token array is BOUND as a
    column before the bucket transform — an inline split inside the
    lambda would re-tokenize the document per bigram."""
    def exploded(df, extra=None):
        # Docs with <2 tokens carry no bigrams: filter them out
        # BEFORE building the index sequence (mirrors
        # dsir_importance).  Without the guard, size(__tk)=1 makes
        # sequence(1, 0) DESCEND to [1, 0] and slice(__tk, 0, 2)
        # throws INVALID_PARAMETER_VALUE.START — and the i=1 term
        # would count a unigram as a bigram, diverging from the
        # oracle's bigram-only semantics.
        d = (df.withColumn("__tk",
                           F.expr(f"split(lower({text_col}), ' ')"))
             .filter(F.expr("size(__tk)") >= 2))
        cols = [F.explode(F.expr(
            "transform(sequence(1, size(__tk) - 1), "
            f"i -> {_bigram_bucket_sql('__tk', 'i', n_buckets)})"))
            .alias("bucket")]
        if extra is not None:
            cols.append(extra)
        return d.select(*cols)

    spark = raw.sparkSession
    buckets = spark.range(n_buckets).select(
        F.col("id").alias("bucket"))
    if target_where is not None:
        if target is not None:
            raise ValueError("dsir_weights: pass target OR "
                             "target_where, not both")
        both = (exploded(raw, F.expr(target_where).alias("__t"))
                .groupBy("bucket")
                .agg(F.count("*").alias("cr"),
                     F.count(F.when(F.col("__t"), 1)).alias("ct")))
        joined = buckets.join(both, "bucket", "left")
    else:
        if target is None:
            raise ValueError("dsir_weights: need target or "
                             "target_where")
        cr = exploded(raw).groupBy("bucket").agg(
            F.count("*").alias("cr"))
        ct = exploded(target).groupBy("bucket").agg(
            F.count("*").alias("ct"))
        joined = (buckets.join(cr, "bucket", "left")
                  .join(ct, "bucket", "left"))
    return joined.select(
        "bucket",
        F.floor(F.lit(scale) * (F.coalesce("ct", F.lit(0)) + 1)
                / (F.coalesce("cr", F.lit(0)) + 1))
        .cast("bigint").alias("w"))


def dsir_importance(docs: DataFrame, weights: DataFrame,
                    n_buckets: int = 1024,
                    text_col: str = "text") -> DataFrame:
    """Per-document DSIR importance over precomputed bucket weights:
    ``imp_mass = Σ_bigrams w(bucket)`` (exact bigint) and
    ``importance = imp_mass / n_bigrams`` (one IEEE division).

    The B weights are COLLECTED (bounded: n_buckets rows) and
    embedded as a literal array, so the corpus pass is scan-local —
    a fold over each document's bigram buckets with element_at into
    the literal; no explode, no join, no shuffle.  Documents with
    fewer than 2 tokens drop (no bigrams, no importance)."""
    rows = {int(r["bucket"]): int(r["w"])
            for r in weights.collect()}
    arr = "array(" + ", ".join(
        f"CAST({rows.get(i, 0)} AS BIGINT)"
        for i in range(n_buckets)) + ")"
    # bind tokens AND the weight array as columns: both appear
    # inside the fold lambda and would otherwise be re-built per
    # bigram (the literal array survives constant folding, but the
    # inline split does not — measured 4x)
    mass = (f"aggregate(sequence(1, size(__tk) - 1), "
            f"CAST(0 AS BIGINT), (a, i) -> a + element_at(__wt, "
            f"CAST({_bigram_bucket_sql('__tk', 'i', n_buckets)} "
            f"AS INT) + 1))")
    return (docs
            .withColumn("__tk",
                        F.expr(f"split(lower({text_col}), ' ')"))
            .filter(F.expr("size(__tk)") >= 2)
            .withColumn("__wt", F.expr(arr))
            .withColumn("n_bigrams",
                        F.expr("size(__tk) - 1").cast("bigint"))
            .withColumn("imp_mass", F.expr(mass))
            .withColumn("importance",
                        F.col("imp_mass").cast("double")
                        / F.col("n_bigrams").cast("double"))
            .drop("__tk", "__wt"))


def dsir_select(docs: DataFrame, target: DataFrame | None, k: int,
                n_buckets: int = 1024,
                id_col: str = "doc_id",
                text_col: str = "text",
                target_where: str | None = None) -> DataFrame:
    """Deterministic DSIR selection: top-``k`` documents by
    importance (ties break on ``id_col`` — reproducible across
    runs and cluster sizes; the paper's Gumbel-noise resampling
    swaps in a hash-draw when statistical sampling is wanted)."""
    scored = dsir_importance(
        docs, dsir_weights(docs, target, n_buckets,
                           text_col=text_col,
                           target_where=target_where),
        n_buckets, text_col)
    # distributed TopK (TakeOrderedAndProject), THEN rank over the
    # k survivors — never a global single-partition window
    top = scored.orderBy(F.desc("importance"), F.asc(id_col)) \
        .limit(k)
    w = Window.orderBy(F.desc("importance"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w))
