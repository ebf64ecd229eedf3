"""Arrow/Python kernels for per-document text statistics whose JVM
form is slow: a chain of higher-order-function folds, or a regex scan.

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

The per-document counts of ``text_counts_arrow`` (tokens, BPE-ish
pieces, punctuation, characters, stopwords) replace Java regex scans
instead: one ``mapInArrow`` pass reads each batch's UTF-8 bytes and
offsets in place and sums byte classes per document with numpy.

Exactness contract: every number these kernels emit is an INTEGER
computed by the same rules as the ext/text.py expressions
(token = split on single space; gram joined by one space; winner tie
breaks to the lexicographically smallest gram — valid UTF-8 compares
identically as Python code points and UTF8String bytes; coverage
unions token positions, chars counted once).  Agreement with the JVM
expressions is locked per-document by tests/test_text_arrow.py, and
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
    plan-to-RDD conversion per call; unavailable on Spark Connect).
    ``inputFiles`` gives URIs, so a path's space or ``%`` arrives
    percent-encoded."""
    from urllib.parse import unquote, urlparse
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
            total += os.path.getsize(unquote(p.path))
        except OSError:
            return None
    return len(files), total


def _estimated_input_bytes(df: DataFrame) -> int | None:
    """The input size the text-kernel crossover compares, or None."""
    fb = _input_files_and_bytes(df)
    return None if fb is None else fb[1]


def _spread_for_cpu(df: DataFrame, listing) -> DataFrame:
    """Round-robin repartition IF the scan under-parallelizes the
    session (the sf fixtures are single-row-group files — one task no
    matter how many cores).  Scale-adaptive, not a constant: when the
    input already carries >= defaultParallelism splits (any real
    100 TB table), this is a no-op — no extra Exchange, the kernel
    runs scan-local.  When it does fire, the shuffle moves only the
    columns already pruned by the caller.  ``listing`` is the
    caller's :func:`_input_files_and_bytes` of ``df``'s input, so an
    entry point lists its input once; the split estimate is
    ``max(n_files, ceil(total_bytes / maxPartitionBytes))``, with no
    ``df.rdd`` plan conversion.  Non-file plans (``listing`` None)
    fall back to the RDD partition count."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if listing is None:
        est = df.rdd.getNumPartitions()
    else:
        n_files, total = listing
        max_bytes = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes",
                                128 << 20)
        est = max(n_files, -(-total // max(max_bytes, 1)))
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
                                         F.col(text_col).alias("text")),
                             _input_files_and_bytes(docs))

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


def _stopword_needles(lang: str) -> list[bytes]:
    """``LANG_PROFILES[lang]`` as UTF-8 needles for the kernel's byte
    compare, which folds ASCII case only.  That equals Spark's
    ``lower`` on every token that can equal a word made of ASCII
    lowercase letters other than ``k`` and of uncased characters:
    only U+212A lowers into ASCII (to ``k``), and U+0130 lowers to
    ``i`` plus U+0307, so U+0307 is refused as well.  Any other word
    raises ``ValueError`` here, when the kernel is built.  A word
    listed twice counts once, as in the regex alternation."""
    from .text import LANG_PROFILES

    words = LANG_PROFILES[lang]
    for w in words:
        if not w or not all(
                ("a" <= c <= "z" and c != "k")
                or (c > "\x7f" and c != "\u0307"
                    and c.lower() == c.upper() == c)
                for c in w):
            raise ValueError(
                f"stopword {w!r} of {lang!r}: the text-counts kernel "
                "counts only words of ASCII lowercase letters other than "
                "'k' and uncased characters")
    return [w.encode("utf-8") for w in dict.fromkeys(words)]


def text_counts_batch(texts, needles: list[bytes] | None = None) -> dict:
    r"""The per-document counts of one Arrow string array, read from
    its offsets and UTF-8 data buffer in place: int64 arrays
    ``n_tokens_ws``, ``n_tokens_bpe``, ``n_punct``, ``n_chars`` and,
    given ``needles``, ``n_stop``; NULL where the text is NULL.  Each
    is a count over the document's bytes ``[offset[i], offset[i+1])``:

    - ``n_tokens_ws``  = size(split(lower(text), ' ')) = #spaces + 1;
    - ``n_tokens_bpe`` = regexp_count(text, BPE_ISH_PATTERN).  The
      matches tile the non-whitespace code points, so the count is
      every code point that is not an ASCII letter, digit or Java
      ``\s`` ([ \t\n\x0B\f\r]), plus every letter or digit whose
      previous code point (in the same document) is not of its class.
      A code point is counted at its lead byte, so a supplementary
      character is one, as in Java's code-point-based Pattern;
    - ``n_punct``      = regexp_count(text, '[.,!?;:]');
    - ``n_chars``      = length(text) (code points);
    - ``n_stop``       = ``stopword_hits``: the tokens between single
      spaces whose ASCII-case-folded bytes equal a needle (see
      :func:`_stopword_needles` for when that equals ``lower``)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(texts)
    width = 8 if pa.types.is_large_string(texts.type) else 4
    _, obuf, dbuf = texts.buffers()
    offs = np.zeros(n + 1, dtype=np.int64)
    if n:
        offs[:] = np.frombuffer(obuf, dtype=f"<i{width}", count=n + 1,
                                offset=texts.offset * width)
    b = (np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None
         else np.zeros(0, dtype=np.uint8))[offs[0]:offs[-1]]
    offs -= offs[0]
    starts, ends = offs[:-1], offs[1:]
    # reduceat returns a[i] for an empty segment: sum non-empty only
    nonempty = np.flatnonzero(ends > starts)

    def per_doc(mask):
        # int32 sums bools 3x faster than int64, and a Spark string
        # holds fewer than 2^31 bytes
        out = np.zeros(n, dtype=np.int64)
        if nonempty.size:
            out[nonempty] = np.add.reduceat(mask, starts[nonempty],
                                            dtype=np.int32)
        return out

    # uint8 arithmetic wraps, so ``b - lo < span`` tests lo <= b < lo+span
    letter = ((b | 0x20) - np.uint8(97)) < 26
    digit = (b - np.uint8(48)) < 10
    space = b == 32
    other = ~(letter | digit | space | ((b - np.uint8(9)) < 5)
              | ((b & 0xC0) == 0x80))
    run = letter.view(np.uint8) + (digit.view(np.uint8) << 1)
    prev = np.empty_like(run)
    prev[1:] = run[:-1]
    prev[starts[nonempty]] = 0  # a document starts a new run
    punct = (((b - np.uint8(58)) < 2) | (b == 46) | (b == 44)  # :; . ,
             | (b == 33) | (b == 63))  # ! ?
    counts = {"n_tokens_ws": per_doc(space) + 1,
              "n_tokens_bpe": per_doc(other | ((run != 0) & (run != prev))),
              "n_punct": per_doc(punct),
              "n_chars": pc.utf8_length(texts).fill_null(0)
              .to_numpy().astype(np.int64)}
    if needles is not None:
        # documents and single spaces bound the tokens in order, so
        # merging the two sorted runs pairs each start with its end
        sp = np.flatnonzero(space)
        tok_start = np.sort(np.concatenate((starts, sp + 1)), kind="stable")
        tok_len = np.sort(np.concatenate((ends, sp)), kind="stable") \
            - tok_start
        hits = []
        for length in {len(w) for w in needles}:
            same_len = tok_start[tok_len == length]
            for w in needles:
                if len(w) != length:
                    continue
                cand = same_len
                for j, byte in enumerate(w):
                    x = b[cand + j]
                    # x | 0x20 is a lowercase letter only at that
                    # letter and at its uppercase
                    cand = cand[(x | 0x20 if 97 <= byte <= 122 else x)
                                == byte]
                hits.append(cand)
        counts["n_stop"] = np.bincount(
            np.searchsorted(offs, np.concatenate(hits), side="right") - 1,
            minlength=n).astype(np.int64)
    mask = texts.is_null().to_numpy(zero_copy_only=False)
    return {k: pa.array(v, type=pa.int64(), mask=mask)
            for k, v in counts.items()}


# Crossover for the text-counts kernel, in bytes of input as
# ``_input_files_and_bytes`` reads them.  Set where the pandas kernel's
# curve crossed the JVM regexps' on the 100x fixture (150 MB): ~8
# against ~28 ms/MB, plus a fixed Python-stage cost per job.  Measured
# again for the Arrow-bytes kernel (``text_quality_score``, 4-core
# host, local[4], median of 7 interleaved noop-forced calls in each
# of two warm sessions, CPU of the process tree): at
# 0.59 MB the JVM expressions cost 0.87-0.91 CPU s / 0.54 s wall
# against the kernel's 0.89-1.01 CPU s / 0.41 s; at 20.4 MB
# 4.07-4.17 CPU s / 3.5 s against 2.04-2.21 CPU s / 0.8 s.  So the
# kernel now about ties on CPU at 0.59 MB and the curves cross well
# below 16 MB; moving the value is its own change.  Both sides return
# the same counts (test-locked), so this is an execution strategy,
# not a semantic switch.
TEXT_KERNEL_MIN_INPUT_BYTES = 16 << 20

def text_counts_arrow(docs: DataFrame,
                      text_col: str = "text",
                      carry_cols: list[str] | None = None,
                      stopword_lang: str | None = None) -> DataFrame:
    """Per-document ``(*carry_cols, n_tokens_ws, n_tokens_bpe, n_punct,
    n_chars)``, plus ``n_stop`` = ``stopword_hits(stopword_lang)`` when
    a language is given; every count is a bigint, NULL for NULL text.

    Two sides, the same counts (test-locked):

    - at or above ``TEXT_KERNEL_MIN_INPUT_BYTES`` of input (or when
      the size is unknown), one ``mapInArrow`` pass after
      :func:`_spread_for_cpu`: :func:`text_counts_batch` reads each
      batch's UTF-8 bytes in place, so no regex engine runs, and only
      ``(carry, text)`` cross into Python;
    - below it, the ext/text.py expressions, which cost less there
      (see the comment on the constant).

    ``LANG_PROFILES`` is read when this is called, on both sides."""
    from .text import (punct_count, stopword_hits, token_count_bpe_ish,
                       token_count_ws)

    carry = list(carry_cols or [])
    pruned = docs.select(*carry, F.col(text_col).alias("__text"))
    counts = ["n_tokens_ws", "n_tokens_bpe", "n_punct", "n_chars"]
    if stopword_lang is not None:
        counts.append("n_stop")

    listing = _input_files_and_bytes(docs)
    if listing is not None and listing[1] < TEXT_KERNEL_MIN_INPUT_BYTES:
        jvm = [token_count_ws("__text").alias("n_tokens_ws"),
               token_count_bpe_ish("__text").alias("n_tokens_bpe"),
               punct_count("__text").alias("n_punct"),
               F.length("__text").cast("bigint").alias("n_chars")]
        if stopword_lang is not None:
            jvm.append(stopword_hits(stopword_lang, "__text")
                       .alias("n_stop"))
        return pruned.select(*carry, *jvm)

    needles = (None if stopword_lang is None
               else _stopword_needles(stopword_lang))

    def compute(batches: Iterator) -> Iterator:
        import pyarrow as pa
        for batch in batches:
            got = text_counts_batch(batch.column("__text"), needles)
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in carry]
                + [got[c] for c in counts], names=carry + counts)

    schema = ", ".join(
        [f"{c} {pruned.schema[c].dataType.simpleString()}"
         for c in carry] + [f"{c} long" for c in counts])
    return _spread_for_cpu(pruned, listing).mapInArrow(compute, schema)


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
    return _dsir_bucket_counts(raw, n_buckets, text_col, target_where,
                               _input_files_and_bytes(raw))


def _dsir_bucket_counts(raw: DataFrame, n_buckets: int, text_col: str,
                        target_where: str | None, listing) -> DataFrame:
    """:func:`dsir_bucket_counts_arrow` given ``raw``'s input listing."""
    import numpy as np  # noqa: F401 (executor-side)

    cols = [F.col(text_col).alias("__text")]
    # evaluate the target predicate as a Spark SQL expression BEFORE
    # the kernel so its semantics stay engine-defined
    cols.append(F.expr(target_where).alias("__t") if target_where
                else F.lit(False).alias("__t"))
    pruned = _spread_for_cpu(raw.select(*cols), listing)

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
    listing = _input_files_and_bytes(docs)
    counts = _dsir_bucket_counts(docs, n_buckets, text_col, target_where,
                                 listing).collect()
    warr = _floor_ratio_weights(counts, n_buckets, 1_000_000)

    pruned = _spread_for_cpu(docs.select(*carry, text_col), listing)

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
