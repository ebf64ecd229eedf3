"""The Arrow Gopher n-gram kernel must agree per-document with the
JVM fold helpers it replaced in the declared query (r12 optimization:
the folds are interpreted CodegenFallback expressions; the kernel is
the same exact integer arithmetic in Python hash tables)."""

import pytest

from python_minerva_etl_spark.ext.text_arrow import (
    gopher_ngram_doc_stats, gopher_quintuple)

# every edge the fold helpers' own tests pin, plus separator and
# empty-token shapes (split(' ') keeps empty strings)
DOCS = [
    (1, "en", "a b a b c"),
    (2, "en", "x x x x"),
    (3, "de", "solo"),
    (4, "de", "p q r s"),
    (5, "fr", "bb c bb c a d a d"),          # count-2 tie -> lex smallest
    (6, "fr", "m n m n o m n"),
    (7, "en", ""),                            # one empty token
    (8, "en", "a  b   c"),                    # runs of spaces -> empties
    (9, "de", "w v w v w v w v w v"),         # heavy 5-gram overlap
    (10, "fr", "Aa BB Aa BB Aa BB"),          # case folding
    (11, "en", None),                         # NULL text -> all-NULL row
]


def test_gopher_quintuple_matches_jvm_folds(spark):
    from pyspark.sql import functions as F

    from python_minerva_etl_spark.ext.text import (
        token_chars, top_ngram_chars, with_dup_ngram_coverage)

    df = spark.createDataFrame(DOCS, "doc_id long, lang string, text string") \
        .withColumn("__toks", F.expr("split(lower(text), ' ')"))
    jvm = {r.doc_id: (r.tc, r.t2, r.t3, r.t4, r.d5)
           for r in with_dup_ngram_coverage(df, 5, toks_col="__toks")
           .select("doc_id",
                   token_chars(toks_col="__toks").alias("tc"),
                   top_ngram_chars(2, toks_col="__toks").alias("t2"),
                   top_ngram_chars(3, toks_col="__toks").alias("t3"),
                   top_ngram_chars(4, toks_col="__toks").alias("t4"),
                   F.col("dup5gram_chars").alias("d5")).collect()}
    for doc_id, _, text in DOCS:
        assert gopher_quintuple(text) == jvm[doc_id], (doc_id, text)


def test_gopher_doc_stats_dataframe_shape(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, lang string, text string")
    out = gopher_ngram_doc_stats(df)
    assert out.columns == ["lang", "tc", "t2", "t3", "t4", "d5"]
    rows = out.collect()
    assert len(rows) == len(DOCS)
    # per-lang sums match a driver-side reduce of the pure function;
    # NULL contributions are skipped exactly like SQL SUM
    want = {}
    for _, lang, text in DOCS:
        q = gopher_quintuple(text)
        acc = want.setdefault(lang, [0] * 5)
        for i in range(5):
            acc[i] += q[i] if q[i] is not None else 0
    got = {}
    for r in rows:
        acc = got.setdefault(r.lang, [0] * 5)
        for i, c in enumerate(("tc", "t2", "t3", "t4", "d5")):
            acc[i] += r[c] if r[c] is not None else 0
    assert got == want


def test_dsir_arrow_matches_jvm_path(spark):
    """dsir_weights_arrow / dsir_select_arrow must reproduce the JVM
    explode+fold path bit-for-bit on the fixture corpus (weights,
    masses, importance doubles and the rank order)."""
    from python_minerva_etl_spark.ext.text import dsir_select, dsir_weights
    from python_minerva_etl_spark.ext.text_arrow import (
        dsir_select_arrow, dsir_weights_arrow)
    from python_minerva_etl_spark.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    nb = 256
    w_jvm = {r.bucket: r.w for r in dsir_weights(
        docs, None, n_buckets=nb, target_where="lang = 'en'").collect()}
    w_arr = {r.bucket: r.w for r in dsir_weights_arrow(
        docs, n_buckets=nb, target_where="lang = 'en'").collect()}
    assert w_arr == w_jvm
    sel_jvm = [(r.doc_id, r.n_bigrams, r.imp_mass, r.importance, r.rank)
               for r in dsir_select(docs, None, 25, n_buckets=nb,
                                    target_where="lang = 'en'")
               .select("doc_id", "n_bigrams", "imp_mass", "importance",
                       "rank").collect()]
    sel_arr = [(r.doc_id, r.n_bigrams, r.imp_mass, r.importance, r.rank)
               for r in dsir_select_arrow(docs, 25, n_buckets=nb,
                                          target_where="lang = 'en'",
                                          carry_cols=["doc_id"])
               .select("doc_id", "n_bigrams", "imp_mass", "importance",
                       "rank").collect()]
    assert sorted(sel_arr) == sorted(sel_jvm)


def test_bigram_buckets_edge_shapes(spark):
    from pyspark.sql import functions as F

    from python_minerva_etl_spark.ext.text_arrow import bigram_buckets

    texts = ["a b", "", "solo", "x  y", "Aa BB cC", "a b c d e"]
    df = spark.createDataFrame([(t,) for t in texts], "text string") \
        .withColumn("__tk", F.expr("split(lower(text), ' ')")) \
        .filter(F.expr("size(__tk)") >= 2)
    from python_minerva_etl_spark.ext.text import _bigram_bucket_sql
    jvm = {r.text: r.b for r in df.select(
        "text", F.expr(
            "transform(sequence(1, size(__tk) - 1), "
            f"i -> {_bigram_bucket_sql('__tk', 'i', 64)})").alias("b"))
        .collect()}
    for t in texts:
        mine = bigram_buckets(t, 64)
        want = jvm.get(t, [])
        assert mine == list(want), t


def test_text_counts_arrow_matches_jvm_exprs(spark, monkeypatch):
    """r13: the vectorized per-doc counts (ws tokens, BPE-ish tokens,
    punct, chars, English stopwords) must equal the JVM expressions on
    every edge shape: unicode (incl. a surrogate-pair emoji — Java
    Pattern matches it as ONE code point), tabs/newlines (Java \\s),
    runs of spaces, empties, NULL text, digits glued to letters, and
    the stopword token edges — case, punctuation glued on, a tab (not
    a separator), lead/trail/double spaces, non-ASCII letters that
    lower into or out of ASCII (U+0130, U+212A).  Also in batches of
    3 rows and as large_string, the other Arrow layouts the kernel
    may be handed."""
    from pyspark.sql import functions as F

    from python_minerva_etl_spark.ext import text_arrow
    from python_minerva_etl_spark.ext.text import stopword_hits
    from python_minerva_etl_spark.ext.text_arrow import text_counts_arrow

    texts = [None, "", " ", "  ", "a", "ab12cd", "1a2b3",
             "héllo wörld", "的是 不了", "emoji \U0001F600 here",
             "tab\tsep\nnewline\x0b\f\r", "a.b,c!d?e;f:g", "...",
             "a  b   c", " lead trail ", "a1 2b", "-x- @# 12ab!",
             "The", "THE", "of the", "the.", "the\tcat", " the", "the ",
             "the  of  a", "  a ", "thé", "İs", "\u0130S is", "\u212Aa",
             "VALUE value Value valued", "is a", "And anD", "toto to"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    BPE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

    def jvm_counts(frame):
        return {r.doc_id: (r.a, r.b, r.c, r.d, r.s) for r in frame.select(
            "doc_id",
            F.size(F.split(F.lower("text"), " ")).cast("bigint").alias("a"),
            F.regexp_count("text", F.lit(BPE)).cast("bigint").alias("b"),
            F.regexp_count("text", F.lit(r"[.,!?;:]")).cast("bigint")
            .alias("c"),
            F.length("text").cast("bigint").alias("d"),
            stopword_hits("en").alias("s")).collect()}

    def got_counts(frame):
        return {r.doc_id: (r.n_tokens_ws, r.n_tokens_bpe, r.n_punct,
                           r.n_chars, r.n_stop)
                for r in text_counts_arrow(
                    frame, carry_cols=["doc_id"], stopword_lang="en")
                .collect()}

    # post-3.0 size(NULL) is NULL on the non-legacy default
    jvm = {k: tuple(None if x == -1 else x for x in v)
           for k, v in jvm_counts(df).items()}
    # an in-memory frame has no file size, so this is the kernel side
    assert got_counts(df) == jvm
    for key, value in (("spark.sql.execution.arrow.maxRecordsPerBatch",
                        "3"),
                       ("spark.sql.execution.arrow.useLargeVarTypes",
                        "true")):
        spark.conf.set(key, value)
        try:
            assert got_counts(df) == jvm, key
        finally:
            spark.conf.unset(key)

    # fixture sample, on both sides of the crossover
    from python_minerva_etl_spark.registry import load_table
    docs = load_table(spark, "/root/testdata/sf0.01", "documents") \
        .limit(150)
    jvm2 = jvm_counts(docs)
    for bound in (0, 1 << 40):
        monkeypatch.setattr(text_arrow, "TEXT_KERNEL_MIN_INPUT_BYTES",
                            bound)
        assert got_counts(docs) == jvm2, bound


def test_text_counts_batch_reads_sliced_and_large_arrays():
    """The kernel reads a batch's offsets and data buffer in place, so
    a sliced array (nonzero ``offset``, first offset past 0) and a
    large_string one must count exactly as the whole array does."""
    import pyarrow as pa

    from python_minerva_etl_spark.ext.text_arrow import (
        _stopword_needles, text_counts_batch)

    texts = ["the cat", None, "", "Of THE a", "x", "a  the", None, "in"]
    whole = pa.array(texts, pa.string())
    needles = _stopword_needles("en")
    want = {k: v.to_pylist()
            for k, v in text_counts_batch(whole, needles).items()}
    assert want["n_stop"] == [1, None, 0, 3, 0, 2, None, 1]
    for arr in (whole.slice(3), whole.slice(1, 5), whole.slice(7),
                whole.slice(0, 0), whole.cast(pa.large_string()).slice(2)):
        lo = arr.offset
        for k, v in text_counts_batch(arr, needles).items():
            assert v.type == pa.int64()
            assert v.to_pylist() == want[k][lo:lo + len(arr)], k
    nulls = text_counts_batch(pa.array([None, None], pa.string()), needles)
    assert all(v.to_pylist() == [None, None] for v in nulls.values())


def test_text_counts_reads_the_shared_lexicon(spark, monkeypatch, tmp_path):
    """Both sides of the text-counts crossover apply ext/text's
    LANG_PROFILES as it stands when the counts are built, so a
    deployment word list reaches the path that runs; a word the
    kernel's ASCII case fold cannot count exactly is refused."""
    from python_minerva_etl_spark.ext import text, text_arrow
    from python_minerva_etl_spark.ext.text_arrow import text_counts_arrow

    # a word listed twice counts once, as in the regex alternation
    monkeypatch.setitem(text.LANG_PROFILES, "en",
                        (*text.LANG_PROFILES["en"], "cat", "the"))
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "the cat and the Cat"), (1, "no match here"), (2, "cats")],
        "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    for bound in (0, 1 << 40):
        monkeypatch.setattr(text_arrow, "TEXT_KERNEL_MIN_INPUT_BYTES",
                            bound)
        got = {r.doc_id: r.n_stop for r in text_counts_arrow(
            docs, carry_cols=["doc_id"], stopword_lang="en").collect()}
        assert got == {0: 5, 1: 0, 2: 0}, bound

    monkeypatch.setattr(text_arrow, "TEXT_KERNEL_MIN_INPUT_BYTES", 0)
    for word in ("kit", "é", "i\u0307", ""):
        monkeypatch.setitem(text.LANG_PROFILES, "en", ("the", word))
        with pytest.raises(ValueError, match="stopword"):
            text_counts_arrow(docs, stopword_lang="en")


def test_size_estimate_reads_escaped_paths(spark, tmp_path):
    """inputFiles() gives percent-encoded URIs: a directory named with
    a space and a ``%`` must still be sized, so a tiny input there
    takes the JVM side of the crossover (no Python node)."""
    import os

    from python_minerva_etl_spark.ext.text_arrow import (
        _estimated_input_bytes, text_counts_arrow)

    path = tmp_path / "a b%c"
    spark.createDataFrame([(0, "the cat")], "doc_id long, text string") \
        .write.parquet(str(path))
    docs = spark.read.parquet(str(path))
    want = sum(os.path.getsize(path / f) for f in os.listdir(path)
               if f.endswith(".parquet"))
    assert want > 0
    assert _estimated_input_bytes(docs) == want
    plan = text_counts_arrow(docs, carry_cols=["doc_id"]) \
        ._jdf.queryExecution().logical().toString()
    assert "MapIn" not in plan and "Python" not in plan, plan


def test_kernel_entry_points_list_their_input_once(spark, tmp_path,
                                                   monkeypatch):
    """On the kernel side, the crossover and the split estimate share
    one ``inputFiles()`` listing: one per ``text_counts_arrow`` call
    and one per ``dsir_select_arrow`` call."""
    from python_minerva_etl_spark.ext import text_arrow

    path = str(tmp_path / "docs")
    spark.createDataFrame([(0, "the cat sat"), (1, "a dog ran off")],
                          "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    calls = []
    listing = text_arrow._input_files_and_bytes

    def counted(df):
        calls.append(df)
        return listing(df)

    monkeypatch.setattr(text_arrow, "_input_files_and_bytes", counted)
    monkeypatch.setattr(text_arrow, "TEXT_KERNEL_MIN_INPUT_BYTES", 0)
    out = text_arrow.text_counts_arrow(docs, carry_cols=["doc_id"])
    assert len(calls) == 1
    assert out.count() == 2
    del calls[:]
    out = text_arrow.dsir_select_arrow(docs, 1, n_buckets=16)
    assert len(calls) == 1
    assert out.count() == 1


def _c4_reference(df, carry):
    """The column-form C4 reference: ext/text c4_line_stats +
    c4_page_rules, in c4_rules_kernel's column order."""
    from python_minerva_etl_spark.ext.text import (c4_line_stats,
                                                   c4_page_rules)

    return df.select(*carry, "page", *c4_line_stats("page")).select(
        *carry, "n_lines", "kept_lines", "kept_chars",
        *c4_page_rules("page", clean_col="clean_text"), "clean_text")


def test_c4_rules_kernel_matches_fused_jvm(spark):
    """r13: the C4 kernel must reproduce the column-form JVM reference
    on every edge shape — down to the rebuilt clean_text string."""
    from python_minerva_etl_spark.ext.text_arrow import c4_rules_kernel

    pages = [
        None, "", "nothing to keep here",
        "one two three four five.\nsix seven eight nine ten!",
        "ends with spaces after mark.   \nanother good one here ok?",
        "\n\n\n", "gap  between   words is still five.",
        "just four words here.",
        'quote "terminal works with five words."',
        "mentions javascript with five words here.",
        "MENTIONS JAVASCRIPT WITH FIVE WORDS HERE.",
        "a { code block } lorem ipsum here.\nshort.\nsix sev en eig ht?",
        "NSFW page with five words here.",
        "unicode héllo wörld counts five wörds.",
        "sentence one. two? three! four.",
        # only U+0020 separates words: a tab or a no-break space
        # joins its neighbours into one word
        "one\ttwo three four five six.", "tab\tjoins\tfour words here.",
        "one\u00a0two three four five six.",
        "no\u00a0break\u00a0space makes four words.",
        "no\u00a0break space makes five words.",
        "   leading run of spaces five words here.",
        "trailing run of spaces five words here.    ",
        "    both runs around five words here.     ",
        "      .", "   .   ",
        "four words  double space.", "exactly four  words here.",
    ]
    df = spark.createDataFrame([(i, p) for i, p in enumerate(pages)],
                               "doc_id long, page string")
    cols = ["doc_id", "n_lines", "kept_lines", "kept_chars",
            "sentences_ok", "lorem_ok", "brace_ok", "blocklist_ok",
            "clean_text"]
    ref = {r.doc_id: tuple(r)[1:] for r in _c4_reference(
        df, ["doc_id"]).select(*cols).collect()}
    knl = {r.doc_id: tuple(r)[1:] for r in c4_rules_kernel(
        df, "page", carry_cols=["doc_id"]).select(*cols).collect()}
    assert knl == ref

    # and on real fixture pages (the declared query's own assembly)
    from python_minerva_etl_spark.queries.ext_text import _C4_ENRICH
    from python_minerva_etl_spark.registry import load_table
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    from pyspark.sql import functions as F
    pg = (docs.select("source", (F.col("doc_id") % 16).alias("b"),
                      F.struct("doc_id",
                               F.expr(_C4_ENRICH).alias("l")).alias("s"))
          .groupBy("source", "b")
          .agg(F.sort_array(F.collect_list("s")).alias("a"))
          .select("source", "b",
                  F.concat_ws("\n", F.col("a.l")).alias("page")))
    cols2 = ["source", "b", "n_lines", "kept_lines", "kept_chars",
             "sentences_ok", "lorem_ok", "brace_ok", "blocklist_ok",
             "clean_text"]
    ref2 = sorted(tuple(r) for r in _c4_reference(
        pg, ["source", "b"]).select(*cols2).collect())
    knl2 = sorted(tuple(r) for r in c4_rules_kernel(
        pg, "page", carry_cols=["source", "b"]).select(*cols2).collect())
    assert knl2 == ref2


def test_c4_kernel_reads_the_shared_lexicon(spark, monkeypatch):
    """The kernel applies ext/text's C4_BLOCKLIST as it stands when
    the kernel is built, as the column-form reference does, so a
    deployment lexicon reaches the path that runs."""
    from python_minerva_etl_spark.ext import text
    from python_minerva_etl_spark.ext.text_arrow import c4_rules_kernel

    monkeypatch.setattr(text, "C4_BLOCKLIST", (*text.C4_BLOCKLIST, "lorem"))
    df = spark.createDataFrame(
        [(0, "Lorem dolor sit amet five words here."),
         (1, "nothing on the list at all in this line."),
         (2, "an xxx page with five words here.")],
        "doc_id long, page string")
    knl_df = c4_rules_kernel(df, "page", carry_cols=["doc_id"])
    ref_df = _c4_reference(df, ["doc_id"])
    assert knl_df.dtypes == ref_df.dtypes
    knl = sorted(knl_df.collect(), key=lambda r: r.doc_id)
    assert [r.blocklist_ok for r in knl] == [False, True, False]
    assert knl == sorted(ref_df.collect(), key=lambda r: r.doc_id)


@pytest.mark.parametrize("name", ["text_token_stats", "text_quality_score"])
def test_text_counts_kernel_side_matches_oracle(spark, monkeypatch, name):
    """The kernel side of the text-counts crossover is oracle-exact on
    the declared queries, not only the side the sf0.01 fixture takes."""
    from python_minerva_etl_spark.ext import text_arrow
    from python_minerva_etl_spark.queries.catalog import all_queries

    from .compare import diff_frames, run_oracle
    from .conftest import SF_CORRECT

    monkeypatch.setattr(text_arrow, "TEXT_KERNEL_MIN_INPUT_BYTES", 0)
    q = all_queries()[name]
    df = q.spark(spark, SF_CORRECT)
    assert "MapInArrow" in df._jdf.queryExecution().logical().toString()
    problems = diff_frames(df.toPandas(), run_oracle(q.oracle, SF_CORRECT))
    assert not problems, problems


def test_gopher_quintuple_on_fixture_corpus(spark):
    """Spot-check the kernel against the fold helpers on real fixture
    documents (the sf0.01 corpus), not just the synthetic edges."""
    from pyspark.sql import functions as F

    from python_minerva_etl_spark.ext.text import (
        token_chars, top_ngram_chars, with_dup_ngram_coverage)
    from python_minerva_etl_spark.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents") \
        .limit(120).withColumn("__toks", F.expr("split(lower(text), ' ')"))
    jvm = {r.doc_id: (r.tc, r.t2, r.t3, r.t4, r.d5)
           for r in with_dup_ngram_coverage(docs, 5, toks_col="__toks")
           .select("doc_id",
                   token_chars(toks_col="__toks").alias("tc"),
                   top_ngram_chars(2, toks_col="__toks").alias("t2"),
                   top_ngram_chars(3, toks_col="__toks").alias("t3"),
                   top_ngram_chars(4, toks_col="__toks").alias("t4"),
                   F.col("dup5gram_chars").alias("d5")).collect()}
    texts = {r.doc_id: r.text
             for r in docs.select("doc_id", "text").collect()}
    assert len(texts) == 120
    for doc_id, text in texts.items():
        assert gopher_quintuple(text) == jvm[doc_id], doc_id


def test_text_entry_points_have_no_override_or_second_copy():
    """No ``spark.minerva.*`` conf is read anywhere in the package, the
    text-kernel crossover is a constant no parameter overrides, the C4
    rules have no fast JVM form beside the kernel,
    and the JVM-side counts reuse ext/text's expressions: the BPE-ish
    regex is written once under ext/ (docstrings aside), as
    BPE_ISH_PATTERN."""
    import ast
    import os

    import python_minerva_etl_spark as pkg
    from python_minerva_etl_spark.ext.text import BPE_ISH_PATTERN

    root = os.path.dirname(pkg.__file__)
    offenders, bpe, home = [], [], []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            with open(path) as fh:
                src = fh.read()
            if "spark.minerva." in src:
                offenders.append(f"{rel}: spark.minerva. conf")
            tree = ast.parse(src, path)
            docstrings = {
                id(node.body[0].value) for node in ast.walk(tree)
                if isinstance(node, (ast.Module, ast.ClassDef,
                                     ast.FunctionDef, ast.AsyncFunctionDef))
                and node.body and isinstance(node.body[0], ast.Expr)
                and isinstance(node.body[0].value, ast.Constant)}
            for node in ast.walk(tree):
                where = f"{rel}:{getattr(node, 'lineno', 0)}"
                if (isinstance(node, ast.Assign)
                        and rel == os.path.join("ext", "text.py")
                        and [getattr(t, "id", None) for t in node.targets]
                        == ["BPE_ISH_PATTERN"]):
                    home.append(where)
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    if node.name == "c4_line_stats_fused":
                        offenders.append(f"{where} c4_line_stats_fused")
                    args = node.args
                    if (rel == os.path.join("ext", "text_arrow.py")
                            and "min_bytes" in {
                                a.arg for a in (args.posonlyargs + args.args
                                                + args.kwonlyargs)}):
                        offenders.append(f"{where} {node.name}(min_bytes)")
                elif (rel.split(os.sep)[0] == "ext"
                      and isinstance(node, ast.Constant)
                      and isinstance(node.value, str)
                      and BPE_ISH_PATTERN in node.value
                      and id(node) not in docstrings):
                    bpe.append(where)
    assert not offenders, offenders
    assert len(home) == 1 and bpe == home, (bpe, home)
