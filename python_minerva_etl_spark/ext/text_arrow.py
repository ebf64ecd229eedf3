"""Arrow/Python kernels for the per-document text statistics whose
JVM form is a chain of higher-order-function folds.

Why this module exists (optimization guide §4.1/§4.2): Spark's
array higher-order functions (``aggregate``, ``transform``,
``array_sort`` with a lambda) are CodegenFallback expressions — every
element step is an interpreted expression-tree walk with boxed
intermediates.  The Gopher n-gram quintuple walks each document ~6
times (3 gram builds + sorts + folds, one struct sort, one interval
fold), which measured ~10 µs per token at sf0.1 — and, worse, the
fixture is a single parquet row group, so the whole corpus ran as ONE
scan task on one core.  A ``mapInPandas`` kernel does the same exact
integer arithmetic in a tight Python loop over hash tables (Counter),
~0.1 µs per gram op, and the explicit round-robin repartition ahead
of it spreads documents over every core — the shuffle moves only the
pruned (lang, text) columns.

Exactness contract: every number these kernels emit is an INTEGER
computed by the same rules as the ext/text.py fold expressions
(token = split on single space; gram joined by one space; winner tie
breaks to the lexicographically smallest gram — valid UTF-8 compares
identically as Python code points and UTF8String bytes; coverage
unions token positions, chars counted once).  Agreement with the JVM
fold helpers is locked per-document by tests/test_text_arrow.py, and
the declared query result is oracle-checked as before.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter
from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gopher_quintuple(text: str | None) -> tuple:
    """(token_chars, top2, top3, top4, dup5_coverage) for one
    document — the exact integer semantics of ``token_chars``,
    ``top_ngram_chars(2..4)`` and ``with_dup_ngram_coverage(n=5)``.
    A NULL text yields all-NULL, exactly like the JVM fold
    expressions (``size(NULL)`` is NULL post-Spark-3.0), so the
    downstream SUM ignores it and a language whose documents are ALL
    NULL aggregates to NULL — not 0 — on both paths."""
    if text is None:
        return (None, None, None, None, None)
    toks = text.lower().split(' ')
    tc = sum(map(len, toks))
    nt = len(toks)
    tops = []
    for n in (2, 3, 4):
        if nt < n:
            tops.append(0)
            continue
        cnt = Counter(' '.join(toks[i:i + n]) for i in range(nt - n + 1))
        best_c, best_g = 0, ''
        for g, c in cnt.items():
            if c > best_c or (c == best_c and g < best_g):
                best_c, best_g = c, g
        # count x token-chars of the winning gram (n-1 separators off)
        tops.append(best_c * (len(best_g) - (n - 1)))
    if nt < 5:
        return (tc, tops[0], tops[1], tops[2], 0)
    grams5 = [' '.join(toks[i:i + 5]) for i in range(nt - 4)]
    c5 = Counter(grams5)
    cover_end, chars = -1, 0
    for s, g in enumerate(grams5):
        if c5[g] < 2:
            continue
        lo = max(s, cover_end + 1)
        hi = s + 4
        for j in range(lo, hi + 1):
            chars += len(toks[j])
        if hi > cover_end:
            cover_end = hi
    return (tc, tops[0], tops[1], tops[2], chars)


def _bytes_conf(spark, key: str, default: int) -> int:
    """A byte-size Spark conf value ("128m", "1g", or plain bytes)."""
    try:
        v = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20),
                   ("g", 1 << 30), ("t", 1 << 40)):
        if v.endswith(suf + "b"):
            v, mult = v[:-2], m
            break
        if v.endswith(suf):
            v, mult = v[:-1], m
            break
    if mult == 1 and v.endswith("b") and v[:-1].isdigit():
        v = v[:-1]
    try:
        return int(float(v) * mult)
    except ValueError:
        return default


def _input_files_and_bytes(df: DataFrame):
    """(n_files, total_bytes) of the file sources backing the plan,
    or None when it is not local-file-backed (in-memory test frames)
    or sizes can't be read.  Avoids ``df.rdd`` (driver-side
    plan-to-RDD conversion per call; unavailable on Spark Connect)."""
    from urllib.parse import urlparse
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("", "file"):
            return None
        try:
            total += os.path.getsize(p.path)
        except OSError:
            return None
    return len(files), total


def _estimated_input_bytes(df: DataFrame) -> int | None:
    fb = _input_files_and_bytes(df)
    return None if fb is None else fb[1]


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """Estimated scan-task count from the file-source metadata:
    ``max(n_files, ceil(total_bytes / maxPartitionBytes))``."""
    fb = _input_files_and_bytes(df)
    if fb is None:
        return None
    n_files, total = fb
    max_bytes = _bytes_conf(df.sparkSession,
                            "spark.sql.files.maxPartitionBytes",
                            128 << 20)
    return max(n_files, -(-total // max(max_bytes, 1)))


def _spread_for_cpu(df: DataFrame) -> DataFrame:
    """Round-robin repartition IF the scan under-parallelizes the
    session (the sf fixtures are single-row-group files — one task no
    matter how many cores).  Scale-adaptive, not a constant: when the
    input already carries >= defaultParallelism splits (any real
    100 TB table), this is a no-op — no extra Exchange, the kernel
    runs scan-local.  When it does fire, the shuffle moves only the
    columns already pruned by the caller.  The split count comes from
    file-source metadata (no ``df.rdd`` plan conversion); non-file
    plans fall back to the RDD partition count."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    est = _estimated_scan_splits(df)
    if est is None:
        est = df.rdd.getNumPartitions()
    if est < target:
        return df.repartition(target)
    return df


def gopher_ngram_doc_stats(docs: DataFrame,
                           text_col: str = "text",
                           lang_col: str = "lang") -> DataFrame:
    """Per-document Gopher n-gram quintuple as a ``mapInPandas``
    kernel: returns ``(lang, tc, t2, t3, t4, d5)`` — one row per
    input document, all-bigint, ready for the corpus ratio-of-sums
    aggregation.  Only (lang, text) cross the Python boundary."""
    import pandas as pd  # noqa: F401 (executor-side)

    pruned = _spread_for_cpu(docs.select(F.col(lang_col).alias("lang"),
                                         F.col(text_col).alias("text")))

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            rows = [gopher_quintuple(t) for t in pdf["text"]]
            # nullable Int64: a NULL-text document's all-NULL row
            # survives to the SUM exactly like the JVM fold NULLs
            out = pd.DataFrame(rows,
                               columns=["tc", "t2", "t3", "t4", "d5"]
                               ).astype("Int64")
            out.insert(0, "lang", pdf["lang"].values)
            yield out

    return pruned.mapInPandas(
        compute,
        "lang string, tc long, t2 long, t3 long, t4 long, d5 long")


# ------------------------------------------------- per-doc text counts


def bpe_ish_count_np(np, cp, lens):
    """Vectorized BPE-ish token count over a batch laid out as one
    code-point array ``cp`` (documents joined by single spaces) with
    per-document code-point ``lens``.  Exactly
    ``regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')``:
    the pattern's matches tile every non-whitespace position, so the
    count is (letter-run starts) + (digit-run starts) + (chars that
    are neither alnum nor ``\\s``).  Java's Pattern is code-point
    based (surrogate pairs match as ONE ``[^...]``), and so is this —
    one UTF-32 code point per element; the ASCII classes are the
    pattern's own, ``\\s`` = [ \\t\\n\\x0B\\f\\r].  The space joiner
    is whitespace: it breaks runs at document boundaries and adds no
    match, so per-document sums via ``reduceat`` are exact.  Locked
    per-document against the JVM regexp by tests/test_text_arrow.py.
    """
    let = ((cp >= 65) & (cp <= 90)) | ((cp >= 97) & (cp <= 122))
    dig = (cp >= 48) & (cp <= 57)
    ws = (cp == 32) | ((cp >= 9) & (cp <= 13))
    other = ~(let | dig | ws)
    ind = ((let & ~np.concatenate(([False], let[:-1])))
           | (dig & ~np.concatenate(([False], dig[:-1])))
           | other).astype(np.int64)
    starts = np.concatenate(([0], (lens + 1).cumsum()[:-1]))
    if not cp.size:
        return np.zeros(len(lens), dtype=np.int64)
    return np.add.reduceat(np.concatenate((ind, [0])),
                           np.minimum(starts, ind.size))


# Crossover for the text-counts kernel, in bytes of input as
# ``_estimated_input_bytes`` reads them.  Measured on the 100x fixture
# (150 MB): the JVM BPE-ish regexp costs ~28 ms/MB of text, the kernel
# ~8 ms/MB plus a fixed Python-stage cost per job, so the curves cross
# near 16 MB.  Each side wins on one side of it: on a 0.59 MB input
# the JVM expressions cost 0.47 CPU s against the kernel's 0.60, on a
# 20.4 MB one 3.14 CPU s against 2.45 (4-core host, local[4], median
# of 7 warm calls).  Both sides return the same counts (test-locked),
# so this is an execution strategy, not a semantic switch.
TEXT_KERNEL_MIN_INPUT_BYTES = 16 << 20


def text_counts_arrow(docs: DataFrame,
                      text_col: str = "text",
                      carry_cols: list[str] | None = None,
                      passthrough: list | None = None) -> DataFrame:
    """Per-document (n_tokens_ws, n_tokens_bpe, n_punct, n_chars) as
    ONE vectorized ``mapInPandas`` kernel — the JVM expressions are
    exact but regex-engine bound: ``regexp_count`` of the BPE-ish
    alternation alone measured 4.25 s of text_quality_score's 5.4 s
    at the 100x fixture (the scan is the cost — a marker-replace
    rewrite that avoids match materialization measured no better).
    The kernel classifies UTF-32 code points with numpy masks over
    the whole Arrow batch (documents joined by one space, per-doc
    sums via ``reduceat``) — 3.4x on the same fixture, bit-exact
    per document (tests/test_text_arrow.py):

    - ``n_tokens_ws``  = size(split(lower(text), ' ')) = #spaces + 1
      (split keeps empty pieces; lower() never changes a space);
    - ``n_tokens_bpe`` = the BPE-ish regexp_count (see
      :func:`bpe_ish_count_np`);
    - ``n_punct``      = regexp_count(text, '[.,!?;:]') = #chars in
      the class (single-char matches cannot overlap);
    - ``n_chars``      = length(text) (code points — Spark length()
      on STRING counts code points, not bytes or UTF-16 units).

    NULL text yields NULL in every count, like the JVM expressions.
    ``passthrough`` columns (pyspark Columns or names) are computed
    scan-side BEFORE the kernel and carried through unchanged —
    e.g. a stopword count that stays a JVM regexp.

    When the input's file size is known and below
    ``TEXT_KERNEL_MIN_INPUT_BYTES``, the counts come from the
    ext/text.py expressions instead, which cost less there (see the
    comment on the constant); results are identical on both sides
    (test-locked)."""
    import numpy as np  # noqa: F401 (executor-side)

    from .text import punct_count, token_count_bpe_ish, token_count_ws

    carry = list(carry_cols or [])
    sel = [F.col(c) for c in carry]
    for c in passthrough or []:
        sel.append(F.col(c) if isinstance(c, str) else c)
    pruned0 = docs.select(*sel, F.col(text_col).alias("__text"))
    pt_names = [c for c in pruned0.columns
                if c not in carry and c != "__text"]

    size = _estimated_input_bytes(docs)
    if size is not None and size < TEXT_KERNEL_MIN_INPUT_BYTES:
        return pruned0.select(
            *carry, *pt_names,
            token_count_ws("__text").alias("n_tokens_ws"),
            token_count_bpe_ish("__text").alias("n_tokens_bpe"),
            punct_count("__text").alias("n_punct"),
            F.length("__text").cast("bigint").alias("n_chars"))
    pruned = _spread_for_cpu(pruned0)

    PUNCT = (46, 44, 33, 63, 59, 58)  # . , ! ? ; :

    def compute(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        for pdf in batches:
            texts = pdf["__text"]
            isnull = texts.isna().to_numpy()
            tl = [("" if n else t) for t, n in zip(texts, isnull)]
            lens = np.fromiter((len(t) for t in tl), dtype=np.int64,
                               count=len(tl))
            cp = np.frombuffer(" ".join(tl).encode("utf-32-le"),
                               dtype=np.uint32)
            starts = np.concatenate(([0], (lens + 1).cumsum()[:-1]))

            def seg_count(mask):
                if not cp.size:
                    return np.zeros(len(tl), dtype=np.int64)
                m = mask.astype(np.int64)
                # the reduceat segment for doc i spans its chars PLUS
                # the joiner space after it; zero the joiners so a
                # space-counting mask never sees them
                m[starts[1:] - 1] = 0
                return np.add.reduceat(
                    np.concatenate((m, [0])),
                    np.minimum(starts, m.size))

            n_ws = seg_count(cp == 32) + 1
            punct_mask = np.isin(cp, PUNCT)
            n_punct = seg_count(punct_mask)
            n_bpe = bpe_ish_count_np(np, cp, lens)
            out = pdf[carry + pt_names].copy()

            def col(vals):
                return pd.array(
                    [None if n else int(v)
                     for v, n in zip(vals, isnull)], dtype="Int64")
            out["n_tokens_ws"] = col(n_ws)
            out["n_tokens_bpe"] = col(n_bpe)
            out["n_punct"] = col(n_punct)
            out["n_chars"] = col(lens)
            yield out

    prefix = ", ".join(
        f"{c} {pruned0.schema[c].dataType.simpleString()}"
        for c in carry + pt_names)
    prefix = prefix + ", " if prefix else ""
    return pruned.mapInPandas(
        compute,
        f"{prefix}n_tokens_ws long, n_tokens_bpe long, "
        "n_punct long, n_chars long")


# ------------------------------------------------------ C4 line filter


def c4_clean_page(page: str | None,
                  terminal: tuple[str, ...]) -> str | None:
    """The C4 line filter for one page, exactly as the JVM expression
    chain computes it (ext/text._c4_keep_line_sql + array_join):
    split on newline; keep lines whose space-rtrimmed text ends in one
    of the ``terminal`` marks, whose space-trimmed text has >= 5 words
    (space-run count >= 4), and whose lowercase does not contain
    'javascript'; join the kept lines with newline.  Spark's
    trim/rtrim strip the SPACE character only (not tabs), lower() on
    the needle's pure-ASCII alphabet matches str.lower, and all
    comparisons are code-point based on both engines.  Locked
    per-page against the JVM form by tests/test_text_arrow.py."""
    if page is None:
        return None
    kept = []
    for line in page.split("\n"):
        r = line.rstrip(" ")
        if not r or r[-1] not in terminal:
            continue
        # words = space-runs + 1 on the trimmed line; >= 5 words.  The
        # trimmed line neither starts nor ends with a space, so its
        # non-empty pieces between U+0020s are exactly the words.
        words = r.lstrip(" ").split(" ")
        if len(words) - words.count("") < 5:
            continue
        if "javascript" in line.lower():
            continue
        kept.append(line)
    return "\n".join(kept)


def c4_page_row(page: str | None, terminal: tuple[str, ...],
                blocklist: tuple[str, ...]) -> tuple:
    """One C4 page -> (n_lines, kept_lines, kept_chars, sentences_ok,
    lorem_ok, brace_ok, blocklist_ok, clean_text), the exact integer/
    boolean semantics of ext/text.c4_line_stats + c4_page_rules (every
    operation is a code-point-exact ASCII test; the needles are pure
    ASCII, so Python str.lower agrees with Spark lower() wherever a
    needle could match).  Kept lines are non-empty and newline-free,
    so ``kept_lines`` is the newline count of the clean text plus one
    (0 when it is empty) and ``kept_chars`` its length less the
    ``kept_lines - 1`` joiners."""
    if page is None:
        return (None,) * 7 + (None,)
    clean = c4_clean_page(page, terminal)
    kept_lines = 0 if clean == "" else clean.count("\n") + 1
    lo = page.lower()
    return (page.count("\n") + 1,
            kept_lines,
            len(clean) - max(kept_lines - 1, 0),
            sum(clean.count(c) for c in ".!?") >= 3,
            "lorem ipsum" not in lo,
            "{" not in page,
            not any(w in lo for w in blocklist),
            clean)


def c4_rules_kernel(pages: DataFrame, text_col: str = "page",
                    carry_cols: list[str] | None = None) -> DataFrame:
    """The C4 line filter + page rules as ONE Python pass (the JVM
    form interprets the per-line predicate inside a HOF lambda; at
    sf0.1 it measured 0.56 s / 0.86 CPU s per call against 0.34 s /
    0.51 CPU s here, at 20.4 MB 1.14 s / 2.82 CPU s against 0.70 s /
    1.54 CPU s).  Only (carry, page) cross into Python and the page
    does NOT cross back — clean_text and the counters/booleans come
    out instead, equal to ext/text.c4_line_stats + c4_page_rules
    (test-locked).  The terminal marks and the blocklist are read from
    ext/text.py when this is called and shipped with the kernel, so
    both implementations apply the same lexicon."""
    from . import text as T

    carry = list(carry_cols or [])
    terminal, blocklist = T._C4_TERMINAL, T.C4_BLOCKLIST
    out_cols = ["n_lines", "kept_lines", "kept_chars", "sentences_ok",
                "lorem_ok", "brace_ok", "blocklist_ok", "clean_text"]

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            rows = [c4_page_row(p, terminal, blocklist)
                    for p in pdf[text_col]]
            out = pdf[carry].copy()
            for i, c in enumerate(out_cols):
                vals = [r[i] for r in rows]
                if c in ("n_lines", "kept_lines", "kept_chars"):
                    out[c] = pd.array(vals, dtype="Int64")
                elif c == "clean_text":
                    out[c] = vals
                else:
                    out[c] = pd.array(vals, dtype="boolean")
            yield out

    prefix = ", ".join(
        f"{c} {pages.schema[c].dataType.simpleString()}" for c in carry)
    prefix = prefix + ", " if prefix else ""
    return pages.mapInPandas(
        compute,
        f"{prefix}n_lines long, kept_lines long, kept_chars long, "
        "sentences_ok boolean, lorem_ok boolean, brace_ok boolean, "
        "blocklist_ok boolean, clean_text string")


# --------------------------------------------------------------- DSIR


def bigram_buckets(text: str, n_buckets: int) -> list[int]:
    """Hashed-bigram feature buckets for one document — the exact
    integer semantics of ext/text.py ``_bigram_bucket_sql``: first 8
    hex digits of md5(tok_i + ' ' + tok_{i+1}) as an int, mod B.
    md5 runs over the UTF-8 bytes, matching Spark's ``md5(string)``.
    Documents with <2 tokens (or NULL text) have no bigrams."""
    if text is None:
        return []
    toks = text.lower().split(' ')
    md5 = hashlib.md5
    return [int(md5(f"{toks[i]} {toks[i + 1]}".encode()
                    ).hexdigest()[:8], 16) % n_buckets
            for i in range(len(toks) - 1)]


def dsir_bucket_counts_arrow(raw: DataFrame, n_buckets: int,
                             text_col: str = "text",
                             target_where: str | None = None
                             ) -> DataFrame:
    """The DSIR weight pass's corpus scan as an Arrow kernel:
    per-batch ``numpy.bincount`` histograms of the hashed-bigram
    buckets (raw count + conditional target count), pre-aggregated
    BEFORE the exchange — each task ships at most ``n_buckets`` rows
    instead of one row per bigram (guide §2.3 'aggregate before you
    shuffle'; the JVM form explodes every bigram through an
    interpreted md5-in-``transform`` lambda first).  Returns
    ``(bucket, cr, ct)`` aggregated — plug into the same floor-ratio
    select as the JVM path for bit-identical weights."""
    import numpy as np  # noqa: F401 (executor-side)

    cols = [F.col(text_col).alias("__text")]
    # evaluate the target predicate as a Spark SQL expression BEFORE
    # the kernel so its semantics stay engine-defined
    cols.append(F.expr(target_where).alias("__t") if target_where
                else F.lit(False).alias("__t"))
    pruned = _spread_for_cpu(raw.select(*cols))

    def compute(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        # accumulate across ALL batches of the task, yield once —
        # each task ships at most n_buckets rows into the exchange
        cr = np.zeros(n_buckets, dtype=np.int64)
        ct = np.zeros(n_buckets, dtype=np.int64)
        for pdf in batches:
            for text, is_t in zip(pdf["__text"], pdf["__t"]):
                b = bigram_buckets(text, n_buckets)
                if not b:
                    continue
                h = np.bincount(b, minlength=n_buckets)
                cr += h
                if is_t:
                    ct += h
        nz = np.flatnonzero(cr)
        yield pd.DataFrame({"bucket": nz.astype(np.int64),
                            "cr": cr[nz], "ct": ct[nz]})

    per_task = pruned.mapInPandas(
        compute, "bucket long, cr long, ct long")
    return per_task.groupBy("bucket").agg(
        F.sum("cr").alias("cr"), F.sum("ct").alias("ct"))


def _floor_ratio_weights(counts_rows, n_buckets: int,
                         scale: int) -> list[int]:
    """Driver-side twin of the Spark weight expression
    ``floor(scale * (ct+1) / (cr+1))``: Spark multiplies exact
    bigints, casts EACH side to double, divides, floors.  The
    ``float()`` conversions below replicate those casts exactly —
    including the (cosmically large) corpora where ``scale*(ct+1)``
    exceeds 2^53 and the cast itself rounds, which Python's exact
    int/int division would NOT reproduce.  Bit-identical weights
    locked against ``dsir_weights`` by tests/test_text_arrow.py."""
    import math

    cr = [0] * n_buckets
    ct = [0] * n_buckets
    for r in counts_rows:
        cr[r["bucket"]] = int(r["cr"])
        ct[r["bucket"]] = int(r["ct"])
    return [int(math.floor(float(scale * (ct[i] + 1))
                           / float(cr[i] + 1)))
            for i in range(n_buckets)]


def dsir_weights_arrow(raw: DataFrame, n_buckets: int = 1024,
                       scale: int = 1_000_000,
                       text_col: str = "text",
                       target_where: str | None = None) -> DataFrame:
    """``ext.text.dsir_weights`` with the corpus pass through the
    Arrow kernel and the bounded floor-ratio computed driver-side
    (``_floor_ratio_weights`` — bit-identical, and it saves the
    range-join's broadcast job; the counts aggregate is <= n_buckets
    rows by construction)."""
    spark = raw.sparkSession
    counts = dsir_bucket_counts_arrow(raw, n_buckets, text_col,
                                      target_where).collect()
    warr = _floor_ratio_weights(counts, n_buckets, scale)
    return spark.createDataFrame(
        [(i, warr[i]) for i in range(n_buckets)], "bucket long, w long")


def dsir_select_arrow(docs: DataFrame, k: int,
                      n_buckets: int = 1024,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      target_where: str | None = None,
                      carry_cols: list[str] | None = None) -> DataFrame:
    """``ext.text.dsir_select`` (target_where form) with both corpus
    passes through Arrow kernels; only ``[*carry_cols, text]`` cross
    the Python boundary.  ``id_col`` is always among the carried
    columns (it breaks importance ties), put first when
    ``carry_cols`` omits it.  Output: ``(*carry, n_bigrams,
    imp_mass, importance, rank)`` — the importance division and the
    TopK stay in Spark, so the doubles and the ordering are the same
    expressions as the JVM path."""
    carry = list(carry_cols or [id_col])
    if id_col not in carry:  # needed for the deterministic tie-break
        carry = [id_col, *carry]
    # one weights job: kernel histograms -> <=n_buckets-row aggregate
    # -> driver floor-ratio (bit-identical to the Spark expression)
    counts = dsir_bucket_counts_arrow(docs, n_buckets, text_col,
                                      target_where).collect()
    warr = _floor_ratio_weights(counts, n_buckets, 1_000_000)

    pruned = _spread_for_cpu(docs.select(*carry, text_col))

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            mass, nbi = [], []
            for text in pdf[text_col]:
                b = bigram_buckets(text, n_buckets)
                nbi.append(len(b))
                mass.append(sum(warr[x] for x in b))
            out = pdf[carry].copy()
            out["n_bigrams"] = pd.Series(nbi, dtype="int64")
            out["imp_mass"] = pd.Series(mass, dtype="int64")
            yield out[out["n_bigrams"] >= 1]

    schema_prefix = ", ".join(
        f"{c} {docs.schema[c].dataType.simpleString()}" for c in carry)
    scored = pruned.mapInPandas(
        compute, f"{schema_prefix}, n_bigrams long, imp_mass long"
    ).withColumn("importance",
                 F.col("imp_mass").cast("double")
                 / F.col("n_bigrams").cast("double"))
    top = scored.orderBy(F.desc("importance"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("importance"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w))
