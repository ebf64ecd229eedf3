"""Training-data pipeline operator invariants: repetition stats,
vocabulary top-k, deterministic shuffle, benchmark contamination."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_minerva_etl_spark.ext.contamination import ngram_overlap
from python_minerva_etl_spark.ext.text import (deterministic_shuffle,
                                               repetition_stats, vocab_topk)
from python_minerva_etl_spark.registry import load_table

SF = "/root/testdata/sf0.001"


def test_repetition_stats_bounds(spark):
    docs = load_table(spark, SF, "documents")
    out = docs.select("doc_id", *repetition_stats()).collect()
    assert len(out) == docs.count()
    for r in out:
        assert 1 <= r.n_distinct <= r.n_tokens
        assert 0.0 <= r.rep_ratio < 1.0


def test_repetition_detects_degenerate_doc(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all words here differ")],
        "doc_id long, text string")
    got = {r.doc_id: r.rep_ratio
           for r in df.select("doc_id", *repetition_stats()).collect()}
    assert got[1] == 0.75 and got[2] == 0.0


def test_vocab_topk_rank_and_monotonic_counts(spark):
    docs = load_table(spark, SF, "documents")
    out = vocab_topk(docs, k=10)
    rows = out.collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        # counts non-increasing with rank
        assert all(a.n >= b.n for a, b in zip(rs, rs[1:]))
    # top-1 overall must be the corpus-wide modal token for that lang
    toks = docs.select("lang", F.explode(F.split(F.lower("text"), " "))
                       .alias("tok")).groupBy("lang", "tok").count()
    for lang, rs in by_lang.items():
        top = max(toks.filter(F.col("lang") == lang).collect(),
                  key=lambda r: (r["count"], ), default=None)
        assert rs[0].n == top["count"]


def test_deterministic_shuffle_is_permutation_and_stable(spark):
    docs = load_table(spark, SF, "documents")
    n = docs.count()
    a = deterministic_shuffle(docs, "doc_id", n_buckets=8)
    pos_a = {r.doc_id: r.position for r in a.collect()}
    assert sorted(pos_a.values()) == list(range(n))     # exact permutation
    # independent of bucketing granularity and repartitioning
    b = deterministic_shuffle(docs.repartition(13), "doc_id", n_buckets=3)
    pos_b = {r.doc_id: r.position for r in b.collect()}
    assert pos_a == pos_b


def test_contamination_self_overlap_is_total(spark):
    """A document checked against a benchmark containing itself is
    100% contaminated; disjoint vocab docs never hit."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_hit, r.contamination)
           for r in ngram_overlap(corpus, bench, n=4).collect()}
    assert set(got) == {1}
    n_hit, frac = got[1]
    assert n_hit == 3 and frac == 1.0    # 6 tokens -> 3 distinct 4-grams


def test_contamination_short_doc_clamps_to_full_text(spark):
    """Docs shorter than n fall back to their single full-text gram on
    both sides (slice clamps) — a 2-token doc still matches itself."""
    corpus = spark.createDataFrame([(1, "tiny doc")],
                                   "doc_id long, text string")
    bench = spark.createDataFrame([(9, "tiny doc")],
                                  "doc_id long, text string")
    got = ngram_overlap(corpus, bench, n=4).collect()
    assert len(got) == 1 and got[0].contamination == 1.0


def test_contamination_benchmark_side_broadcasts(spark):
    """The benchmark gram set must reach the corpus as a broadcast
    join — a 100 TB corpus cannot shuffle on gram."""
    docs = load_table(spark, SF, "documents")
    plan = ngram_overlap(docs, docs.limit(20), n=4)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_boilerplate_counts_distinct_docs(spark):
    """A shingle repeated many times inside ONE doc is not boilerplate;
    one shared across >= min_docs distinct docs is."""
    from python_minerva_etl_spark.ext.text import boilerplate_shingles

    df = spark.createDataFrame(
        [(1, "visit our site today " * 5),
         (2, "visit our site today please"),
         (3, "visit our site today thanks"),
         (4, "totally unrelated content here")],
        "doc_id long, text string")
    got = {r.shingle: r.doc_freq
           for r in boilerplate_shingles(df, n=4, min_docs=3).collect()}
    assert got.get("visit our site today") == 3
    # the intra-doc repeat in doc 1 must not inflate doc_freq past 3
    assert all(f <= 4 for f in got.values())


def test_interleave_weighted_proportions(spark):
    """Sorting by vtime interleaves sources proportionally to weight:
    in any prefix of k*L virtual time, source with weight w has ~w*k
    docs (exact stride-scheduling invariant, +/- 1 at boundaries)."""
    from python_minerva_etl_spark.ext.text import interleave_weighted

    rows = [(i, f"s{i % 2}") for i in range(600)]  # 300 docs per source
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = (interleave_weighted(df, "doc_id", "source", {"s0": 2, "s1": 1})
           .orderBy("vtime", "source").collect())
    # lcm=2 -> s0 stride 1, s1 stride 2: first 90 vtime units hold
    # ~90 s0 docs and ~45 s1 docs
    prefix = [r for r in out if r.vtime <= 90]
    n0 = sum(1 for r in prefix if r.source == "s0")
    n1 = sum(1 for r in prefix if r.source == "s1")
    assert n0 == 90 and n1 == 45
    # ranks are contiguous per source starting at 1
    ranks0 = sorted(r.src_rank for r in out if r.source == "s0")
    assert ranks0 == list(range(1, 301))


def test_interleave_matches_single_partition_ranks(spark):
    """The bucketed parallel-window rank equals the naive global
    per-source row_number (the scale path changes nothing)."""
    from pyspark.sql.window import Window

    from python_minerva_etl_spark.ext.text import (hash_draw,
                                                   interleave_weighted)

    docs = load_table(spark, SF, "documents")
    got = interleave_weighted(docs, "doc_id", "source", {"src0": 3})
    naive = docs.withColumn(
        "expect_rank",
        F.row_number().over(
            Window.partitionBy("source")
            .orderBy(hash_draw("doc_id", "interleave-v1"), "doc_id")))
    joined = got.join(naive.select("doc_id", "expect_rank"), "doc_id")
    assert joined.filter(F.col("src_rank") != F.col("expect_rank")).count() == 0


def test_temperature_sample_rebalances_sources(spark):
    from python_minerva_etl_spark.ext.text import temperature_sample

    docs = load_table(spark, SF, "documents")
    out = temperature_sample(docs, "doc_id", "source", target_frac=0.5)
    rows = out.select("doc_id", "source", "p_keep").collect()
    n_total = docs.count()
    # expected sample size = 0.5 * N; md5 draws are near-uniform, so
    # a generous binomial band suffices at sf0.001 (~600 docs)
    assert abs(len(rows) - 0.5 * n_total) < 0.15 * n_total
    # p_keep must be monotone non-increasing in source size: the
    # whole point of T < 1 is to down-sample the big sources harder
    sizes = {r.source: r.cnt for r in
             docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    p = {r.source: r.p_keep for r in rows}
    by_size = sorted(p, key=lambda s: sizes[s])
    for small, big in zip(by_size, by_size[1:]):
        assert p[small] >= p[big] - 1e-12
    for v in p.values():
        assert 0.0 < v <= 1.0


def test_temperature_sample_partitioning_invariant(spark):
    from python_minerva_etl_spark.ext.text import temperature_sample

    docs = load_table(spark, SF, "documents")
    a = {r.doc_id for r in
         temperature_sample(docs, "doc_id", "source").select("doc_id").collect()}
    b = {r.doc_id for r in
         temperature_sample(docs.repartition(13), "doc_id", "source")
         .select("doc_id").collect()}
    assert a == b


def test_quality_prune_keeps_top_half_per_lang(spark):
    from python_minerva_etl_spark.ext.text import quality_prune

    docs = load_table(spark, SF, "documents")
    kept = quality_prune(docs, keep_frac=0.5)
    per_lang = {r.lang: r.cnt for r in
                kept.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    totals = {r.lang: r.cnt for r in
              docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    for lang, n in totals.items():
        # >= half (ties at the threshold are kept), < everything
        assert per_lang[lang] >= n // 2
        assert per_lang[lang] < n or n <= 2
    # every kept doc really clears its own language's threshold
    assert kept.filter(F.col("quality") < F.col("q_thr")).count() == 0


def test_mix_epochs_caps_and_favors_small_sources(spark):
    from python_minerva_etl_spark.ext.text import mix_epochs

    docs = load_table(spark, SF, "documents")
    out = mix_epochs(docs, budget_tokens=50_000, max_epochs=4)
    plan = {r.source: r.epochs for r in
            out.select("source", "epochs").distinct().collect()}
    toks = {r.source: r.t for r in
            docs.groupBy("source").agg(
                F.sum(F.size(F.split(F.lower("text"), " "))).alias("t"))
            .collect()}
    assert all(1 <= e <= 4 for e in plan.values())
    # epochs is monotone non-increasing in source token mass
    by_mass = sorted(plan, key=lambda s: toks[s])
    for small, big in zip(by_mass, by_mass[1:]):
        assert plan[small] >= plan[big]
    # each doc appears exactly `epochs` times
    bad = (out.groupBy("doc_id", "epochs")
           .agg(F.count("*").alias("n"))
           .filter(F.col("n") != F.col("epochs")).count())
    assert bad == 0


def test_corpus_pipeline_example_runs(spark):
    """The end-to-end curation example stays runnable and monotone:
    every destructive stage can only shrink the corpus, and the split
    partitions the sampled set exactly."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "examples", "corpus_pipeline.py")
    spec = importlib.util.spec_from_file_location("corpus_pipeline", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    c = mod.run(spark, SF)
    chain = ["raw", "gated", "exact_dedup", "near_dedup",
             "semantic_dedup", "quality_pruned", "temperature_sampled"]
    for a, b in zip(chain, chain[1:]):
        assert c[a] >= c[b] > 0
    assert c["epoch_rows"] >= c["temperature_sampled"]
    assert c["train"] + c["holdout"] == c["temperature_sampled"]


def test_temperature_sample_single_source_is_plain_rate(spark):
    """With one source the temperature reweighting must reduce to a
    plain target_frac bernoulli: p_keep == target_frac exactly."""
    from python_minerva_etl_spark.ext.text import temperature_sample

    docs = (load_table(spark, SF, "documents")
            .withColumn("source", F.lit("only")))
    got = temperature_sample(docs, "doc_id", "source", target_frac=0.5)
    ps = {r.p_keep for r in got.select("p_keep").distinct().collect()}
    assert ps == {0.5}


def test_mix_epochs_budget_extremes(spark):
    from python_minerva_etl_spark.ext.text import mix_epochs

    docs = load_table(spark, SF, "documents")
    tiny = mix_epochs(docs, budget_tokens=10, max_epochs=4)
    assert {r.epochs for r in tiny.select("epochs").distinct().collect()} \
        == {1}
    huge = mix_epochs(docs, budget_tokens=10**12, max_epochs=4)
    assert {r.epochs for r in huge.select("epochs").distinct().collect()} \
        == {4}


def test_gopher_line_counts_exact(spark):
    from python_minerva_etl_spark.ext.text import gopher_line_counts

    df = spark.createDataFrame(
        [(1, "foo\nbar\nfoo\nbaz"),           # one duplicated line
         (2, "a\n\nb\n\na"),                  # duplicated paragraph
         (3, "only one line")],
        "doc_id long, text string")
    got = {r.doc_id: tuple(r)[1:]
           for r in df.select("doc_id", *gopher_line_counts())
           .collect()}
    # (n_lines, dup_lines, line_chars, dup_line_chars,
    #  n_paras, dup_paras, para_chars, dup_para_chars)
    assert got[1] == (4, 2, 12, 6, 1, 0, 15, 0)
    # lines ['a','','b','','a']: 'a' x2 AND '' x2 duplicate
    assert got[2] == (5, 4, 3, 2, 3, 2, 3, 2)
    assert got[3] == (1, 0, 13, 0, 1, 0, 13, 0)


def test_top_ngram_chars_exact(spark):
    from python_minerva_etl_spark.ext.text import (token_chars,
                                                   top_ngram_chars)

    df = spark.createDataFrame(
        [(1, "a b a b c"),        # top 2-gram 'a b' x2, 2 chars
         (2, "x x x x"),          # 'x x' x3 (overlaps COUNT here)
         (3, "solo"),             # shorter than n -> 0
         (4, "p q r s"),          # all unique: count 1 x 2 chars
         # count-2 tie 'bb c' vs 'a d': lexicographically smaller
         # 'a d' wins -> 2*2, not 2*3
         (5, "bb c bb c a d a d")],
        "doc_id long, text string")
    got = {r.doc_id: (r.tc, r.top2) for r in df.select(
        "doc_id", token_chars().alias("tc"),
        top_ngram_chars(2).alias("top2")).collect()}
    assert got[1] == (5, 4)
    assert got[2] == (4, 6)
    assert got[3] == (4, 0)
    assert got[4] == (4, 2)
    assert got[5] == (10, 4)


def test_dup_ngram_coverage_unions_overlaps(spark):
    from python_minerva_etl_spark.ext.text import (
        with_dup_ngram_coverage)

    df = spark.createDataFrame(
        [(1, "a b a b c"),    # starts 1,3 -> tokens 1..4 -> 4 chars
         (2, "x x x x"),      # starts 1,2,3 UNION [1,4] -> 4 not 6
         (3, "p q r s"),      # no duplicated 2-gram -> 0
         (4, "z")],           # shorter than n -> 0
        "doc_id long, text string")
    got = {r.doc_id: r.dup2gram_chars
           for r in with_dup_ngram_coverage(df, 2).collect()}
    assert got == {1: 4, 2: 4, 3: 0, 4: 0}
    # adjacent-but-distinct duplicated grams merge intervals too:
    # 'm n m n o m n' 3-grams: 'm n m','n m n','m n o' unique,
    # but 2-grams 'm n'(1,3,6) 'n m'(2) 'n o'(4) 'o m'(5):
    # dup 'm n' covers [1,2]+[3,4]+[6,7] = 6 tokens = 6 chars
    df2 = spark.createDataFrame([(9, "m n m n o m n")],
                                "doc_id long, text string")
    assert with_dup_ngram_coverage(df2, 2).collect()[0] \
        .dup2gram_chars == 6


def test_gopher_word_rules_booleans(spark):
    from python_minerva_etl_spark.ext.text import gopher_word_rules

    good = " ".join(["the", "and", "to", "value"] * 7)   # 28 words
    df = spark.createDataFrame(
        [(1, good),                          # passes all five
         (2, "the and to"),                  # too few words
         (3, " ".join(["extraordinarily"] * 30)),  # mean len > 10
         (4, " ".join(["#"] * 30)),          # symbols + no alpha
         (5, " ".join(["zq", "xv"] * 15))],  # no stopwords
        "doc_id long, text string")
    rows = {r.doc_id: r for r in df.select(
        "doc_id", *gopher_word_rules(min_words=24)).collect()}
    assert all(tuple(rows[1])[1:])           # every rule True
    assert not rows[2].word_count_ok
    assert not rows[3].mean_len_ok
    assert not rows[4].alpha_ok and not rows[4].symbol_ok
    assert not rows[5].stopword_ok


def test_dsir_ranks_target_like_docs_first(spark):
    from python_minerva_etl_spark.ext.text import (dsir_importance,
                                                   dsir_select,
                                                   dsir_weights)

    docs = spark.createDataFrame(
        [(1, "en", "the value of the table is the value"),
         (2, "en", "the value of the key is the value"),
         (3, "xx", "zq wv pk zq wv pk zq wv"),
         (4, "xx", "the value of the row is the value"),   # target-like
         (5, "xx", "mm nn oo pp qq rr ss tt")],
        "doc_id long, lang string, text string")
    target = docs.filter("lang = 'en'")

    w = dsir_weights(docs, target, n_buckets=256)
    assert w.count() == 256                 # dense bucket table
    got = dsir_select(docs, target, 5, n_buckets=256,
                      id_col="doc_id").collect()
    by_rank = [r.doc_id for r in sorted(got, key=lambda r: r.rank)]
    # the raw doc sharing the target's bigrams outranks the two
    # off-target docs
    assert by_rank.index(4) < by_rank.index(3)
    assert by_rank.index(4) < by_rank.index(5)
    # importance is exact integer mass over bigram count
    sc = {r.doc_id: r for r in dsir_importance(
        docs, w, n_buckets=256).collect()}
    for r in sc.values():
        assert r.importance == r.imp_mass / r.n_bigrams
    assert sc[1].n_bigrams == 7


def test_dsir_single_token_and_empty_docs(spark):
    """Docs with <2 tokens carry no bigrams: they contribute nothing
    to the weight table (the r9 advice crash: sequence(1, 0)
    descends to [1, 0] and slice(__tk, 0, 2) throws) and never rank
    in the selection."""
    from python_minerva_etl_spark.ext.text import (dsir_select,
                                                   dsir_weights)

    docs = spark.createDataFrame(
        [(1, "en", "the value of the table"),
         (2, "en", "one"),                    # single token
         (3, "en", ""),                       # empty -> [''] (1 tok)
         (4, "xx", "zq"),
         (5, "xx", "the value of the row")],
        "doc_id long, lang string, text string")
    target = docs.filter("lang = 'en'")

    w = dsir_weights(docs, target, n_buckets=64)
    assert w.count() == 64                    # no crash, dense
    # target_where single-pass variant hits the same guard
    w2 = dsir_weights(docs, None, n_buckets=64,
                      target_where="lang = 'en'")
    assert {(r.bucket, r.w) for r in w.collect()} == \
        {(r.bucket, r.w) for r in w2.collect()}
    got = dsir_select(docs, target, 5, n_buckets=64,
                      id_col="doc_id").collect()
    # only the two multi-token docs have an importance
    assert sorted(r.doc_id for r in got) == [1, 5]


def test_c4_rules_line_and_page_semantics(spark):
    """C4 recipe (Raffel et al. 2020 §2.2): line filter keeps only
    terminal-punctuated >= 5-word lines without 'javascript';
    page rules flag sentence count (on RETAINED text), lorem ipsum,
    curly braces, and blocklist hits."""
    from python_minerva_etl_spark.ext.text import (c4_line_stats,
                                                   c4_page_rules)

    page_ok = ("one two three four five.\n"
               "does this line have five words?\n"
               "short line.\n"                    # < 5 words: drop
               "no terminal punctuation here at all\n"
               "Enable JavaScript to view this page.\n"
               'he said "five words are enough."')
    rows = [
        (1, page_ok),
        (2, "a { code block } lorem ipsum here.\nplain line"),
        (3, "this page mentions nsfw content in one line."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in df.select(
        "doc_id", "text", *c4_line_stats()).select(
        "doc_id", "n_lines", "kept_lines", "kept_chars",
        *c4_page_rules(clean_col="clean_text"),
        "clean_text").collect()}

    r1 = got[1]
    assert r1.n_lines == 6 and r1.kept_lines == 3
    assert r1.clean_text.splitlines() == [
        "one two three four five.",
        "does this line have five words?",
        'he said "five words are enough."']
    assert r1.kept_chars == sum(
        len(line) for line in r1.clean_text.splitlines())
    # 3 sentences on the retained text
    assert r1.sentences_ok and r1.lorem_ok and r1.brace_ok \
        and r1.blocklist_ok

    r2 = got[2]
    assert not r2.lorem_ok and not r2.brace_ok and r2.blocklist_ok
    assert not r2.sentences_ok            # 1 kept sentence only

    r3 = got[3]
    assert not r3.blocklist_ok and r3.lorem_ok and r3.brace_ok


def test_stopword_hits_regex_matches_token_form(spark):
    """r13: stopword_hits is one regexp_count pass; it must agree
    with the split+filter token form on every boundary shape —
    adjacent stopwords, prefix words, runs of spaces, leading and
    trailing spaces, case folding, NULL, and the zh profile."""
    from pyspark.sql import functions as F

    from python_minerva_etl_spark.ext.text import (LANG_PROFILES,
                                                   stopword_hits)

    texts = [None, "", " ", "the", "the the", "of the", "a", "and",
             "than the theory", "value valued value", "the  a",
             " the ", "THE A Of", "a a a", "x the y", "the-a of,",
             "的 是 人人 的", "end the", "the end"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")

    def token_form(lang):
        words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        return F.expr("size(filter(split(lower(text), ' '), "
                      f"x -> x IN ({words})))").cast("bigint")

    for lang in LANG_PROFILES:
        got = df.select(F.col("text"),
                        stopword_hits(lang).alias("re_n"),
                        token_form(lang).alias("tok_n")).collect()
        for r in got:
            assert r.re_n == r.tok_n, (lang, r.text, r.re_n, r.tok_n)


def test_punct_count_matches_replace_form(spark):
    from pyspark.sql import functions as F

    from python_minerva_etl_spark.ext.text import punct_count

    texts = [None, "", "no punct", ".,!?;:", "a.b,c!d?e;f:g",
             "...", "a. b? c!"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    old = F.length(
        F.regexp_replace(F.col("text"), r"[^.,!?;:]", "")).cast("bigint")
    for r in df.select(punct_count().alias("n"),
                       old.alias("o")).collect():
        assert r.n == r.o


def test_c4_rules_plan_is_one_scan_one_exchange(spark):
    """The C4 declared query must stay scan-local: one parquet scan,
    one shuffle (the synthesized-page groupBy) — the 100 TB shape."""
    from python_minerva_etl_spark.queries.catalog import all_queries

    q = all_queries()["text_c4_rules"]
    plan = q.spark(spark, SF)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") <= 2  # partial+final of ONE shuffle
