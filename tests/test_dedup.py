"""Dedup family invariants: the scale paths agree with the exact
contracts (recall for LSH, candidate containment for SimHash)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from python_minerva_etl_spark.ext.dedup import (minhash_lsh_candidates,
                                                near_dup_pairs_exact,
                                                near_dup_pairs_lsh)
from python_minerva_etl_spark.registry import load_table

from .conftest import SF_CORRECT

SF = "/root/testdata/sf0.001"


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_lsh_verified_pairs_subset_and_recall(spark):
    docs = load_table(spark, SF, "documents")
    exact = _pairs(near_dup_pairs_exact(docs, 0.9))
    lsh = _pairs(near_dup_pairs_lsh(docs, 0.9))
    # precision 1.0 by construction (exact verify phase)
    assert lsh <= exact
    # recall: banding (s^8 curve) must keep nearly all >=0.9 pairs
    if exact:
        assert len(lsh) / len(exact) >= 0.95


def test_minhash_candidates_cover_high_similarity(spark):
    docs = load_table(spark, SF, "documents")
    exact = _pairs(near_dup_pairs_exact(docs, 0.95))
    cand = _pairs(minhash_lsh_candidates(docs).withColumnRenamed(
        "doc_a", "doc_a").withColumnRenamed("doc_b", "doc_b"))
    if exact:
        covered = len(exact & cand) / len(exact)
        assert covered >= 0.95


def test_exact_dedup_no_false_groups(spark):
    from python_minerva_etl_spark.ext.dedup import exact_dedup

    docs = load_table(spark, SF, "documents")
    groups = exact_dedup(docs)
    # hash groups partition the corpus: sum of n_dups == doc count
    total = groups.agg(F.sum("n_dups")).collect()[0][0]
    assert total == docs.count()
    assert groups.filter(F.col("keep_id").isNull()).count() == 0


def test_simhash_matches_pure_python_reference(spark):
    """The packed-lane SimHash equals a direct per-bit ±vote reference
    computed in Python from the same token hashes."""
    from python_minerva_etl_spark.ext.dedup import simhash64

    docs = load_table(spark, SF, "documents").limit(20)
    got = {r.doc: r.simhash for r in simhash64(docs).collect()}

    # reference: collect (doc, token-hash, count) and vote in python
    toks = (docs.selectExpr("doc_id as doc",
                            "explode(split(lower(text), ' ')) as tok")
            .selectExpr("doc", "xxhash64(tok) as th")
            .groupBy("doc", "th").count().collect())
    votes: dict[int, list[int]] = {}
    for r in toks:
        v = votes.setdefault(r.doc, [0] * 64)
        for i in range(64):
            bit = (r.th >> i) & 1
            v[i] += r["count"] if bit else -r["count"]
    want = {}
    for doc, v in votes.items():
        fp = 0
        for i in range(64):
            if v[i] > 0:
                fp |= 1 << i
        # python ints are unbounded; Spark's is a signed 64-bit long
        if fp >= 2 ** 63:
            fp -= 2 ** 64
        want[doc] = fp
    assert got == want


def test_connected_components_clusters(spark):
    """Chain, triangle, isolated edge, and a node bridging two label
    waves — min-label propagation must converge to component minima."""
    from python_minerva_etl_spark.ext.clusters import (
        connected_components, dedup_keep_canonical)

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),    # triangle
         (20, 21)],                       # isolated edge
        "doc_a bigint, doc_b bigint")
    got = {r.doc: r.cluster
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 20, 21]],
                                 "doc_id bigint")
    dec = {r.doc_id: (r.cluster, r.keep)
           for r in dedup_keep_canonical(docs, pairs).collect()}
    assert dec[1] == (1, True) and dec[4] == (1, False)
    assert dec[5] == (5, True)   # singleton keeps itself
    assert dec[21] == (20, False)


def test_connected_components_random_graphs_vs_union_find(spark):
    """Randomized (fixed-seed) graphs vs a pure-python union-find:
    labels must be exactly the component minimum for every node,
    including long chains that need several propagation rounds."""
    import random

    from python_minerva_etl_spark.ext.clusters import connected_components

    for seed, n_nodes, n_edges in [(7, 40, 25), (13, 60, 80), (29, 30, 15)]:
        rng = random.Random(seed)
        edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes))
                 for _ in range(n_edges)]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        in_pairs = {x for e in edges for x in e}
        want = {}
        roots: dict[int, int] = {}
        for x in sorted(in_pairs):
            roots.setdefault(find(x), x)   # min node per component
        for x in in_pairs:
            want[x] = roots[find(x)]

        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges], "doc_a bigint, doc_b bigint")
        got = {r.doc: r.cluster
               for r in connected_components(pairs).collect()}
        assert got == want, f"seed={seed}"


def test_span_dedup_exact_substr_semantics(spark):
    """Duplicated 8-token spans are removed at every non-canonical
    occurrence (cross-doc, whole-doc, and within-doc repeats), and the
    first (doc_id, p) occurrence survives verbatim."""
    from python_minerva_etl_spark.ext.dedup import span_dedup

    base = "t0 t1 t2 t3 t4 t5 t6 t7"
    docs = spark.createDataFrame(
        [(0, base + " tail0"),
         (1, "pre " + base + " post"),
         (2, "short doc"),
         (3, base),
         (5, " ".join(f"u{i}" for i in range(8)) + " "
             + " ".join(f"u{i}" for i in range(8)))],
        "doc_id long, text string")
    got = {r.doc_id: r for r in span_dedup(docs, n=8).collect()}
    assert got[0].clean_text == base + " tail0" and got[0].n_removed == 0
    assert got[1].clean_text == "pre post" and got[1].n_removed == 8
    assert got[2].clean_text == "short doc" and got[2].n_removed == 0
    assert got[3].clean_text == "" and got[3].n_removed == 8
    # within-doc repeat: second copy removed, first kept
    assert got[5].clean_text == " ".join(f"u{i}" for i in range(8))
    assert got[5].n_removed == 8
    orig = {r.doc_id: r.text for r in docs.collect()}
    assert all(r.n_tokens == len(orig[d].split(" "))
               for d, r in got.items())


def test_semantic_dedup_drops_planted_duplicate(spark):
    """A vector duplicated verbatim must land in the same cluster and
    lose to the lower id; everything else in this corpus sits below
    the tau=0.99 near-identity threshold and survives."""
    from python_minerva_etl_spark.ext.clusters import semantic_dedup

    emb = load_table(spark, SF, "embeddings")
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    dup = (emb.filter(F.col("vec_id") == 3)
           .select((F.lit(max_id + 1)).alias("vec_id"), "embedding",
                   "label"))
    got = semantic_dedup(emb.unionByName(dup), k=8, tau=0.99)
    rows = {r.vec_id: r for r in got.collect()}
    assert rows[3].kept is True
    assert rows[max_id + 1].kept is False
    assert rows[3].cluster_id == rows[max_id + 1].cluster_id
    # every cluster keeps at least its canonical member
    kept_per_cluster = {}
    for r in rows.values():
        kept_per_cluster.setdefault(r.cluster_id, 0)
        if r.kept:
            kept_per_cluster[r.cluster_id] += 1
    assert all(v >= 1 for v in kept_per_cluster.values())


def test_semantic_dedup_cluster_scoped_pairs(spark):
    """Dropping is cluster-scoped: a doc is dropped iff some lower-id
    SAME-CLUSTER doc has cosine >= tau — cross-cluster near-dups are
    intentionally invisible (that locality is the scale contract)."""
    from python_minerva_etl_spark.ext.clusters import semantic_dedup
    from python_minerva_etl_spark.ext.similarity import cosine_col

    emb = load_table(spark, SF, "embeddings")
    tau = 0.45
    got = semantic_dedup(emb, k=4, tau=tau)
    assign = {r.vec_id: r.cluster_id for r in got.collect()}
    kept = {r.vec_id: r.kept for r in got.collect()}
    a = emb.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("vb"))
    pairs = (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .withColumn("cos", cosine_col("va", "vb"))
             .filter(F.col("cos") >= tau)
             .select("id_a", "id_b").collect())
    expect_dropped = {p.id_b for p in pairs
                      if assign[p.id_a] == assign[p.id_b]}
    assert {v for v, k in kept.items() if not k} == expect_dropped


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_dedup_matches_batch_on_exact_dup_cliques(spark):
    """Id-ordered incremental processing of a corpus whose dup groups
    are exact-duplicate cliques keeps exactly the canonical (first)
    member of every group — same answer in 1 batch or 3."""
    from python_minerva_etl_spark.ext.incremental_dedup import \
        incremental_dedup

    texts = {
        1: "alpha beta gamma delta epsilon zeta",
        2: "one two three four five six seven",
        3: "alpha beta gamma delta epsilon zeta",      # dup of 1
        4: "totally different words appear here now",
        5: "one two three four five six seven",        # dup of 2
        6: "alpha beta gamma delta epsilon zeta",      # dup of 1
        7: "lorem ipsum dolor sit amet consectetur",
    }
    rows = sorted(texts.items())
    expect = {1, 2, 4, 7}

    # one batch
    acc, st = incremental_dedup(None, _mk_docs(spark, rows))
    assert {r.doc_id for r in acc.collect()} == expect
    assert st.count() == len(expect)

    # three id-ordered batches, state threaded through
    state = None
    got = set()
    for lo, hi in ((1, 3), (4, 5), (6, 7)):
        batch = _mk_docs(spark, [r for r in rows if lo <= r[0] <= hi])
        acc, state = incremental_dedup(state, batch)
        got |= {r.doc_id for r in acc.collect()}
    assert got == expect
    assert state.count() == len(expect)


def test_incremental_dedup_near_dup_first_seen_wins(spark):
    """A later batch's near-duplicate (not byte-identical) of an
    accepted doc is dropped by the signature-estimate verify."""
    from python_minerva_etl_spark.ext.incremental_dedup import \
        incremental_dedup

    base = " ".join(f"w{i}" for i in range(40))  # 40 distinct tokens
    near = base + " extra tail"                  # Jaccard 40/42 ~ 0.95
    acc1, st = incremental_dedup(
        None, _mk_docs(spark, [(1, base),
                               (2, "completely unrelated content words")]))
    assert acc1.count() == 2
    acc2, st2 = incremental_dedup(
        st, _mk_docs(spark, [(3, near),
                             (4, "fresh material nothing like before")]))
    assert {r.doc_id for r in acc2.collect()} == {4}
    assert st2.count() == 3


def test_semantic_dedup_k_exceeds_corpus(spark):
    from python_minerva_etl_spark.ext.clusters import semantic_dedup

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 5)
    got = semantic_dedup(emb, k=50, tau=0.99)
    assert got.count() == 5
    assert all(r.kept for r in got.collect())  # nothing near-identical


def test_incremental_dedup_empty_batch_is_noop(spark):
    from python_minerva_etl_spark.ext.incremental_dedup import \
        incremental_dedup

    first = _mk_docs(spark, [(1, "alpha beta gamma delta")])
    acc, st = incremental_dedup(None, first)
    assert acc.count() == 1
    empty = _mk_docs(spark, [])
    acc2, st2 = incremental_dedup(st, empty)
    assert acc2.count() == 0 and st2.count() == 1


def _naive_jaccard_pairs(spark, docs, threshold, tok_expr):
    """Reference quadratic join (the pre-round-4 formulation) — used
    only to prove the prefix-filtered join is lossless."""
    toks = docs.select(F.col("doc_id").alias("doc"),
                       F.explode(F.array_distinct(tok_expr)).alias("tok"))
    sizes = toks.groupBy("doc").agg(F.count("*").alias("n_tok"))
    a, b = toks.alias("a"), toks.alias("b")
    common = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                     & (F.col("a.doc") < F.col("b.doc")))
              .groupBy(F.col("a.doc").alias("doc_a"),
                       F.col("b.doc").alias("doc_b"))
              .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col("doc").alias("doc_a"),
                      F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"),
                      F.col("n_tok").alias("n_b"))
    jac = (F.col("n_common").cast("double")
           / (F.col("n_a") + F.col("n_b")
              - F.col("n_common")).cast("double"))
    return (common.join(sa, "doc_a").join(sb, "doc_b")
            .filter(jac >= threshold).select("doc_a", "doc_b"))


def test_prefix_filter_is_lossless_vs_naive(spark):
    """The prefix-filtered similarity join returns EXACTLY the naive
    quadratic join's pairs — on the corpus fixture and on a skewed
    fixture where every doc shares one stopword."""
    docs = load_table(spark, SF, "documents")
    tok = F.split(F.lower(F.col("text")), " ")
    for thr in (0.7, 0.9):
        got = _pairs(near_dup_pairs_exact(docs, thr))
        want = _pairs(_naive_jaccard_pairs(spark, docs, thr, tok))
        assert got == want, f"threshold {thr}"

    # skew fixture: 'the' in every doc; rare tails distinguish pairs
    rows = [(i, f"the alpha{i % 5} beta{i % 7} gamma{i % 3}")
            for i in range(60)] + [(100, "the xx yy zz"),
                                   (101, "the xx yy zz")]
    skew = spark.createDataFrame(rows, "doc_id long, text string")
    got = _pairs(near_dup_pairs_exact(skew, 0.8))
    want = _pairs(_naive_jaccard_pairs(spark, skew, 0.8, tok))
    assert got == want and (100, 101) in got


def _naive_containment_pairs(spark, docs, threshold):
    """Reference unfiltered inverted-index self-join (the pre-round-5
    containment formulation) — used only to prove the containment
    prefix filter is lossless."""
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.array_distinct(
            F.split(F.lower(F.col("text")), " "))).alias("tok"))
    sizes = toks.groupBy("doc").agg(F.count("*").alias("n_tok"))
    a, b = toks.alias("a"), toks.alias("b")
    common = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                     & (F.col("a.doc") < F.col("b.doc")))
              .groupBy(F.col("a.doc").alias("doc_a"),
                       F.col("b.doc").alias("doc_b"))
              .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col("doc").alias("doc_a"),
                      F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"),
                      F.col("n_tok").alias("n_b"))
    c_ab = F.col("n_common").cast("double") / F.col("n_a").cast("double")
    c_ba = F.col("n_common").cast("double") / F.col("n_b").cast("double")
    return (common.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b",
                    c_ab.alias("containment_a_in_b"),
                    c_ba.alias("containment_b_in_a"))
            .filter(F.greatest("containment_a_in_b",
                               "containment_b_in_a") >= threshold))


def _cont_rows(df):
    return sorted((r.doc_a, r.doc_b,
                   round(r.containment_a_in_b, 9),
                   round(r.containment_b_in_a, 9))
                  for r in df.collect())


def test_containment_prefix_is_lossless_vs_naive(spark):
    """Round-5 scale path: the containment-prefix-filtered join must
    return EXACTLY the naive quadratic join's pairs AND ratios — on
    the corpus fixture and on a size-skewed fixture (small doc fully
    inside a much larger host, where Jaccard-LSH would lose it)."""
    from python_minerva_etl_spark.ext.dedup import containment_pairs

    docs = load_table(spark, SF, "documents")
    for thr in (1.0, 0.8):
        got = _cont_rows(containment_pairs(docs, thr))
        want = _cont_rows(_naive_containment_pairs(spark, docs, thr))
        assert got == want, f"threshold {thr}"

    rows = [(i, f"the alpha{i % 5} beta{i % 7} gamma{i % 3}")
            for i in range(60)] + [
        (100, "xx yy zz"),
        (101, "the xx yy zz qq rr ss tt uu vv ww")]  # 100 ⊂ 101
    skew = spark.createDataFrame(rows, "doc_id long, text string")
    got = _cont_rows(containment_pairs(skew, 1.0))
    want = _cont_rows(_naive_containment_pairs(spark, skew, 1.0))
    assert got == want
    assert any(a == 100 and b == 101 and ab == 1.0
               for a, b, ab, _ in got)


def test_containment_prefix_bounds_hot_token_fanout(spark):
    """The containment candidate stage must not materialize the
    quadratic stopword bucket: with stopwords shared by all N docs, a
    raw inverted-index self-join yields >= 4*N*(N-1)/2 candidate rows;
    the prefix-probed join (contained side prefixes only) stays
    near-linear because hot tokens never enter a prefix."""
    from python_minerva_etl_spark.ext.dedup import (_rarity_prefix,
                                                    containment_pairs)

    n = 200
    rows = [(i, f"the of and common word{i} tail{i}") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.array_distinct(
            F.split(F.lower(F.col("text")), " "))).alias("tok"))
    sizes = toks.groupBy("doc").agg(F.count("*").alias("n_tok"))
    prefix = _rarity_prefix(toks, sizes, 0.8)
    n_cand = (prefix.alias("pa")
              .join(toks.alias("fb"),
                    (F.col("pa.tok") == F.col("fb.tok"))
                    & (F.col("pa.doc") != F.col("fb.doc"))).count())
    quadratic = 4 * n * (n - 1) // 2  # the 4 shared stopwords' cost
    assert n_cand < quadratic / 10, (n_cand, quadratic)
    # and the full op still returns the right (empty) answer
    assert containment_pairs(docs, 0.8).count() == 0


def test_prefix_filter_bounds_hot_token_fanout(spark):
    """The candidate join must NOT materialize the quadratic stopword
    bucket: with a stopword shared by all N docs, a raw inverted-index
    join yields >= N*(N-1)/2 candidate rows; the rarity-ordered prefix
    join stays near-linear."""
    from python_minerva_etl_spark.ext.dedup import _jaccard_pairs_prefix

    n = 200
    rows = [(i, f"the of and common word{i} tail{i}") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.array_distinct(
            F.split(F.lower(F.col("text")), " "))).alias("tok"))
    # reproduce the internal candidate stage to count it
    sizes = toks.groupBy("doc").agg(F.count("*").alias("n_tok"))
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    from pyspark.sql.window import Window
    w = Window.partitionBy("doc").orderBy("df", "tok")
    ranked = (toks.join(dfreq, "tok")
              .select("doc", "tok", F.row_number().over(w).alias("r"))
              .join(sizes, "doc"))
    prefix = ranked.filter(
        F.col("r") <= F.col("n_tok")
        - F.ceil(F.lit(0.8) * F.col("n_tok")) + 1)
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    n_cand = (pa.join(pb, (F.col("pa.tok") == F.col("pb.tok"))
                      & (F.col("pa.doc") < F.col("pb.doc"))).count())
    quadratic = n * (n - 1) // 2  # what the stopword bucket alone costs
    assert n_cand < quadratic / 10, (n_cand, quadratic)
    # and the full op still returns the right (empty) answer
    assert _pairs(_jaccard_pairs_prefix(toks, 0.8)) == set()


def test_semantic_dedup_indexed_equals_batch_at_fixed_centroids(
        spark, tmp_path):
    """batch ≡ indexed at fixed centroids: write an IVF index whose
    centroids are EXACTLY the declared form's (the k lowest-id
    embeddings, in vec_id order so cell i <-> i-th lowest vec_id);
    semantic_dedup_indexed must reproduce semantic_dedup's assignment
    and keep/drop decisions one-for-one."""
    from python_minerva_etl_spark.ext.clusters import (
        semantic_dedup, semantic_dedup_indexed)

    emb = load_table(spark, SF, "embeddings")
    seeds = emb.orderBy("vec_id").limit(8).collect()
    cell_to_cid = {i: r.vec_id for i, r in enumerate(seeds)}
    cent_rows = [
        (i, [float(x) for x in r.embedding],
         float(sum(float(x) ** 2 for x in r.embedding) ** 0.5))
        for i, r in enumerate(seeds)]
    path = str(tmp_path / "ivf")
    (spark.createDataFrame(cent_rows,
                           "cell int, v array<double>, n double")
     .coalesce(1).write.parquet(path + "/centroids"))
    want = {(r.vec_id, r.cluster_id, r.kept)
            for r in semantic_dedup(emb, k=8, tau=0.4).collect()}
    got = {(r.vec_id, cell_to_cid[r.cluster_id], r.kept)
           for r in semantic_dedup_indexed(spark, emb, path,
                                           tau=0.4).collect()}
    assert got == want


def test_semantic_dedup_indexed_recall_on_planted_dups(spark, tmp_path):
    """Recall vs the exact declared form, on the set both forms MUST
    agree on: planted exact duplicates (cosine 1.0) of 20 corpus
    vectors.  Identical vectors land in the same Voronoi cell under
    ANY centroid set, so the Lloyd-refined indexed twin must drop
    every planted copy the declared form drops — recall 1.0 on the
    planted set, regardless of how the two clusterings differ on
    boundary points.  (The sf0.001 fixture itself has no pairs above
    cosine 0.6, so organic drops at loose tau are pure
    boundary-assignment noise — not a recall signal.)"""
    from python_minerva_etl_spark.ext.clusters import (
        semantic_dedup, semantic_dedup_indexed)
    from python_minerva_etl_spark.ext.similarity import build_ivf_index

    base = load_table(spark, SF, "embeddings")
    planted = (base.orderBy("vec_id").limit(20)
               .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                       "embedding", "label"))
    emb = base.unionByName(planted)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, num_cells=8, lloyd_iters=2)
    declared_drop = {r.vec_id for r in
                     semantic_dedup(emb, k=8, tau=0.99).collect()
                     if not r.kept}
    indexed_drop = {r.vec_id for r in
                    semantic_dedup_indexed(spark, emb, path,
                                           tau=0.99).collect()
                    if not r.kept}
    planted_ids = {r.vec_id for r in planted.select("vec_id").collect()}
    assert planted_ids <= declared_drop  # the declared form catches all
    recall = len(declared_drop & indexed_drop) / len(declared_drop)
    assert recall == 1.0, (recall, sorted(declared_drop - indexed_drop))


def test_simhash_md5_pairs_equal_brute_force(spark):
    """The oracle-verifiable md5 SimHash: pigeonhole banding + exact
    popcount must equal the brute-force all-pairs hamming set, on
    docs with repeated tokens, near-dups, and a single-token doc."""
    from itertools import combinations

    from python_minerva_etl_spark.ext.dedup import (
        simhash_md5, simhash_md5_near_pairs)

    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = spark.createDataFrame(
        [(1, base), (2, base + "extra"), (3, base.replace("fox", "cat")),
         (4, "solo"), (5, "completely different words entirely here"),
         (6, base),  # exact dup of 1 -> hamming 0
         (7, "completely different words entirely here")],  # dup of 5
        "doc_id long, text string")
    fp = {r.doc: (r.hi, r.lo) for r in simhash_md5(docs).collect()}
    assert all(0 <= h < (1 << 32) and 0 <= l < (1 << 32)
               for h, l in fp.values())
    # a fingerprint with bit 63 set: the combined 64-bit form is negative
    assert any(h >= 1 << 31 for h, _ in fp.values())
    want = sorted(
        (a, b, bin((fp[a][0] ^ fp[b][0])).count("1")
         + bin((fp[a][1] ^ fp[b][1])).count("1"))
        for a, b in combinations(sorted(fp), 2)
        if bin(fp[a][0] ^ fp[b][0]).count("1")
        + bin(fp[a][1] ^ fp[b][1]).count("1") <= 3)
    got = sorted(tuple(r) for r in
                 simhash_md5_near_pairs(docs).collect())
    assert got == want
    assert {(1, 6), (5, 7)} <= {(a, b) for a, b, _ in got}  # exact dups


def test_simhash_md5_neighbors_equal_reference(spark):
    """simhash_md5_near_neighbors against a pure-Python sorted
    neighborhood: the md5 halves combined into one 64-bit fingerprint,
    four 16-bit band pieces, each doc linked to its next 2 by id
    within each (band, piece) bucket, pairs with hamming <= 3 kept
    once with their minimum hamming."""
    from python_minerva_etl_spark.ext.dedup import (
        simhash_md5, simhash_md5_near_neighbors)

    rows = _clique_corpus()
    # one-word variants of a few groups: near-dups at hamming > 0
    rows += [(100 + g, " ".join(["v"] + [f"g{g}w{i}" for i in range(1, 12)]))
             for g in (2, 4, 9, 14)]
    docs = _mk_docs(spark, rows)
    fp = {r.doc: (r.hi << 32) | r.lo for r in simhash_md5(docs).collect()}
    assert any(v >> 63 for v in fp.values())  # sign bit covered

    want = {}
    for band in range(4):
        buckets = {}
        for d in sorted(fp):
            buckets.setdefault((fp[d] >> (16 * band)) & 0xFFFF,
                               []).append(d)
        for members in buckets.values():
            for i, a in enumerate(members):
                for b in members[i + 1:i + 3]:
                    h = bin(fp[a] ^ fp[b]).count("1")
                    if h <= 3:
                        want[a, b] = min(h, want.get((a, b), h))
    got = {(r.doc_a, r.doc_b): r.hamming for r in
           simhash_md5_near_neighbors(docs, neighborhood=2).collect()}
    assert got == want
    assert len(got) > 20 and any(got.values())


def test_minhash_verified_two_phase_equals_exact(spark):
    """near_dup_pairs_lsh at 16x4 banding must reproduce the exact
    >= 0.9 pair set on a corpus with planted near-dups (recall-1
    banding + exact verification)."""
    from python_minerva_etl_spark.ext.dedup import (
        near_dup_pairs_exact, near_dup_pairs_lsh)

    words = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(20):
        toks = list(words)
        if d % 3 == 1:
            toks[d % 40] = f"mut{d}"  # 39/41 jaccard ~ 0.95
        if d % 3 == 2:
            toks = toks[:20] + [f"x{d}{i}" for i in range(20)]
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = sorted(tuple(r) for r in
                   near_dup_pairs_exact(docs, 0.9).collect())
    lsh = sorted(tuple(r) for r in
                 near_dup_pairs_lsh(docs, 0.9, num_hashes=64,
                                    bands=16).collect())
    assert lsh == exact and len(exact) > 10


def test_max_pairs_per_doc_output_guard(spark):
    """A deep clique emits O(clique^2) pairs by definition; with
    max_pairs_per_doc=K every surface emits at most K pairs per
    doc_a — linear output — keeping each doc's STRONGEST matches,
    deterministically (doc_b tiebreak)."""
    import pytest

    from python_minerva_etl_spark.ext.dedup import (
        containment_pairs, near_dup_pairs_exact, near_dup_pairs_lsh,
        ngram_jaccard_pairs, simhash_md5_near_pairs,
        simhash_near_pairs)

    # a 12-doc exact-dup clique (66 pairs uncapped) + one near-dup
    words = " ".join(f"w{i}" for i in range(30))
    rows = [(d, words) for d in range(12)]
    rows.append((12, words.replace("w0", "mut")))  # 29/31 ~ 0.935
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    full = near_dup_pairs_exact(docs, 0.9).collect()
    assert len(full) > 60
    for fn, kw in [
            (near_dup_pairs_exact, dict(threshold=0.9)),
            (near_dup_pairs_lsh, dict(threshold=0.9)),
            (ngram_jaccard_pairs, dict(threshold=0.9)),
            (simhash_near_pairs, dict()),
            (simhash_md5_near_pairs, dict()),
            (containment_pairs, dict(threshold=0.95))]:
        capped = fn(docs, max_pairs_per_doc=2, **kw).collect()
        per_a = {}
        for r in capped:
            per_a[r.doc_a] = per_a.get(r.doc_a, 0) + 1
        assert per_a and max(per_a.values()) <= 2, fn.__name__
        assert len(capped) <= 2 * 13, fn.__name__

    # strongest-first: doc 0's kept pairs are exact dups (J=1.0),
    # never the weaker mutated pair
    kept0 = near_dup_pairs_exact(docs, 0.9, max_pairs_per_doc=2)
    kept0 = [r for r in kept0.collect() if r.doc_a == 0]
    assert [r.doc_b for r in kept0] == [1, 2]
    assert all(r.jaccard == 1.0 for r in kept0)

    with pytest.raises(ValueError, match="max_pairs_per_doc"):
        near_dup_pairs_exact(docs, 0.9, max_pairs_per_doc=0)


def test_cap_pairs_adds_exactly_one_exchange(spark):
    """The output guard must cost ONE window exchange over the final
    pair set — never a second similarity pass or extra scans."""
    from python_minerva_etl_spark.ext.dedup import near_dup_pairs_exact

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")

    def shape(df):
        p = df._jdf.queryExecution().executedPlan().toString()
        return p.count("Scan parquet"), p.count("Exchange")

    s0, e0 = shape(near_dup_pairs_exact(docs, 0.9))
    s1, e1 = shape(near_dup_pairs_exact(docs, 0.9,
                                        max_pairs_per_doc=3))
    assert s1 == s0                  # no extra scan
    # at most the cap's own window shuffle — and in the real plan
    # it's ZERO: the verify join already hash-partitions on doc_a,
    # so EnsureRequirements satisfies the window with a sort alone
    assert e0 <= e1 <= e0 + 1


def test_cap_pairs_deterministic_under_repartitioning(spark):
    """The kept set is a pure function of the data: same capped pairs
    whatever the input partitioning (desc-strength order with doc_b
    tiebreak leaves no room for partition-order nondeterminism)."""
    from python_minerva_etl_spark.ext.dedup import near_dup_pairs_exact

    words = " ".join(f"w{i}" for i in range(30))
    rows = [(d, words) for d in range(10)]
    rows += [(d, words.replace(f"w{d % 3}", f"m{d}"))
             for d in range(10, 16)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(tuple(r) for r in near_dup_pairs_exact(
        docs.coalesce(1), 0.9, max_pairs_per_doc=2).collect())
    b = sorted(tuple(r) for r in near_dup_pairs_exact(
        docs.repartition(13), 0.9, max_pairs_per_doc=2).collect())
    assert a == b and len(a) > 5


def _clique_corpus():
    """60 docs in 20 dup groups (sizes 1-5): dup structure is exact
    cliques, the regime where incremental processing provably equals
    one-shot (first/lowest id of every group survives)."""
    rows, doc_id = [], 1
    sizes = [1, 2, 3, 4, 5] * 4
    for g, size in enumerate(sizes):
        text = " ".join(f"g{g}w{i}" for i in range(12))
        for _ in range(size):
            rows.append((doc_id, text))
            doc_id += 1
    return rows


def test_incremental_dedup_five_batches_equals_one_shot(spark):
    """r10 verdict item 6: >=5 id-ordered ingests, state threaded and
    COMPACTED between them, must accept exactly the one-shot keep set
    — and state must end at one signature per accepted doc."""
    from python_minerva_etl_spark.ext.incremental_dedup import (
        compact_state, incremental_dedup)

    rows = _clique_corpus()
    one_acc, one_state = incremental_dedup(None, _mk_docs(spark, rows))
    expect = {r.doc_id for r in one_acc.collect()}
    assert len(expect) == 20  # one canonical per group

    state, got = None, set()
    edges = [0, 12, 24, 36, 48, len(rows)]  # 5 batches
    sizes = []
    for lo, hi in zip(edges, edges[1:]):
        acc, state = incremental_dedup(state, _mk_docs(spark, rows[lo:hi]))
        state = compact_state(state)
        sizes.append(state.count())
        got |= {r.doc_id for r in acc.collect()}
    assert got == expect
    assert sizes == sorted(sizes)          # growth is monotone...
    assert sizes[-1] == len(expect)        # ...and ends at |accepted|


def test_compact_state_replay_idempotent(spark):
    """At-least-once delivery: re-processing an already-ingested batch
    must not grow compacted state, and accepts nothing (every doc is
    its own exact dup in state)."""
    from python_minerva_etl_spark.ext.incremental_dedup import (
        compact_state, incremental_dedup)

    batch = _mk_docs(spark, [(1, "alpha beta gamma delta epsilon"),
                             (2, "one two three four five six")])
    acc, state = incremental_dedup(None, batch)
    assert acc.count() == 2
    # replay the same batch against the state it produced
    acc2, state2 = incremental_dedup(state, batch)
    assert acc2.count() == 0
    assert compact_state(state2).count() == 2


def test_compact_state_retention_horizon(spark):
    """Signatures below the horizon are dropped (bounded state), and a
    later near-dup of an EXPIRED doc is accepted again — the
    documented semantics of windowed dedup."""
    from python_minerva_etl_spark.ext.incremental_dedup import (
        compact_state, incremental_dedup)

    text = "retention horizon words here and more tokens"
    acc, state = incremental_dedup(
        None, _mk_docs(spark, [(1, text),
                               (50, "unrelated second document words")]))
    assert acc.count() == 2
    state = compact_state(state, retain_min_doc=10)
    assert {r.doc for r in state.collect()} == {50}
    acc2, _ = incremental_dedup(state, _mk_docs(spark, [(100, text)]))
    assert {r.doc_id for r in acc2.collect()} == {100}


def test_simhash_neighbors_subset_and_connectivity(spark):
    """simhash_near_neighbors: every emitted pair is in the full band-
    join pair set (precision 1 vs that surface), and on a clique
    corpus the bounded candidates yield the SAME connected components
    as the quadratic full pair set."""
    from python_minerva_etl_spark.ext.clusters import connected_components
    from python_minerva_etl_spark.ext.dedup import (simhash_near_neighbors,
                                                    simhash_near_pairs)

    rows = _clique_corpus()
    docs = _mk_docs(spark, rows)
    full = simhash_near_pairs(docs, max_hamming=3)
    nbrs = simhash_near_neighbors(docs, max_hamming=3, neighborhood=2)

    full_set = {(r.doc_a, r.doc_b, r.hamming) for r in full.collect()}
    nbr_set = {(r.doc_a, r.doc_b, r.hamming) for r in nbrs.collect()}
    assert nbr_set <= full_set
    assert nbr_set  # non-trivial

    def comps(pairs):
        cc = connected_components(pairs)
        groups = {}
        for r in cc.collect():
            groups.setdefault(r.cluster, set()).add(r.doc)
        return {frozenset(g) for g in groups.values()}

    assert comps(nbrs) == comps(full)


def test_simhash_neighbors_candidate_bound(spark):
    """The whole point: candidates are O(n * neighborhood * bands) on
    ANY clique structure — a 40-member exact clique emits a bounded
    chain, not 780 pairs."""
    from python_minerva_etl_spark.ext.dedup import (simhash_near_neighbors,
                                                    simhash_near_pairs)

    text = " ".join(f"tok{i}" for i in range(25))
    docs = _mk_docs(spark, [(i, text) for i in range(1, 41)])
    full_n = simhash_near_pairs(docs, max_hamming=3).count()
    assert full_n == 40 * 39 // 2  # quadratic, as expected
    nb = simhash_near_neighbors(docs, max_hamming=3, neighborhood=2)
    n = nb.count()
    assert n <= 40 * 2  # n * W after cross-band dedup
    # the chain spans the clique: 39 consecutive pairs present
    got = {(r.doc_a, r.doc_b) for r in nb.collect()}
    assert {(i, i + 1) for i in range(1, 40)} <= got


def test_simhash_neighbors_partitioning_invariant(spark):
    from python_minerva_etl_spark.ext.dedup import simhash_near_neighbors

    docs = _mk_docs(spark, _clique_corpus())
    a = sorted(tuple(r) for r in simhash_near_neighbors(
        docs.coalesce(1), neighborhood=3).collect())
    b = sorted(tuple(r) for r in simhash_near_neighbors(
        docs.repartition(13), neighborhood=3).collect())
    assert a == b and len(a) > 10


def test_minhash_neighbors_bound_subset_connectivity(spark):
    """minhash_lsh_neighbors: candidates bounded on a deep clique,
    verified pairs a subset of the exact >= threshold pair set, and
    components equal to the full pipeline's on a clique corpus."""
    from python_minerva_etl_spark.ext.clusters import connected_components
    from python_minerva_etl_spark.ext.dedup import (
        minhash_lsh_neighbors, near_dup_pairs_exact,
        near_dup_pairs_lsh_neighbors)

    # deep exact clique: candidates must stay linear
    text = " ".join(f"tok{i}" for i in range(25))
    clique = _mk_docs(spark, [(i, text) for i in range(1, 41)])
    cand = minhash_lsh_neighbors(clique, bands=8, neighborhood=2)
    assert cand.count() <= 40 * 2
    got = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert {(i, i + 1) for i in range(1, 40)} <= got  # chain spans it

    # mixed corpus: subset + identical components
    docs = _mk_docs(spark, _clique_corpus())
    exact = near_dup_pairs_exact(docs, 0.9)
    nbrs = near_dup_pairs_lsh_neighbors(docs, 0.9, bands=8,
                                        neighborhood=2)
    exact_set = {(r.doc_a, r.doc_b) for r in exact.collect()}
    nbr_set = {(r.doc_a, r.doc_b) for r in nbrs.collect()}
    assert nbr_set and nbr_set <= exact_set

    def comps(pairs):
        cc = connected_components(pairs)
        groups = {}
        for r in cc.collect():
            groups.setdefault(r.cluster, set()).add(r.doc)
        return {frozenset(g) for g in groups.values()}

    assert comps(nbrs) == comps(exact)


def test_incremental_dedup_chain_equivalent_on_cliques(spark):
    """The within-batch chain (every bucket with more than one member
    chains at ``skew_bucket_threshold=1``): on exact-dup cliques the
    keep set (and final state) matches the full-join variant batch
    for batch."""
    from python_minerva_etl_spark.ext.incremental_dedup import (
        compact_state, incremental_dedup)

    rows = _clique_corpus()

    def run(**kwargs):
        state, got = None, set()
        for lo, hi in ((0, 20), (20, 40), (40, len(rows))):
            acc, state = incremental_dedup(state, _mk_docs(spark, rows[lo:hi]),
                                           **kwargs)
            state = compact_state(state)
            got |= {r.doc_id for r in acc.collect()}
        return got, state.count()

    # full-join baseline computed (and sanity-asserted) FIRST, so the
    # comparison can't silently depend on iteration order
    full_got, full_state_n = run()
    assert len(full_got) == 20
    bounded_got, bounded_state_n = run(skew_bucket_threshold=1)
    assert bounded_got == full_got
    assert bounded_state_n == full_state_n


def test_incremental_dedup_skew_threshold_identical_when_no_deep_bucket(spark):
    """skew_bucket_threshold routes every bucket at or under S through
    the EXACT self-join — with no deep bucket the keep set and state
    are identical to the default full join (the contract that lets the
    adaptive mode be recommended as the production setting)."""
    from python_minerva_etl_spark.ext.incremental_dedup import (
        compact_state, incremental_dedup)

    rows = _clique_corpus()                      # bucket depth <= 5

    def run(**kwargs):
        state, got = None, set()
        for lo, hi in ((0, 20), (20, 40), (40, len(rows))):
            acc, state = incremental_dedup(
                state, _mk_docs(spark, rows[lo:hi]), **kwargs)
            state = compact_state(state)
            got |= {r.doc_id for r in acc.collect()}
        return got, state.count()

    full_got, full_state_n = run()
    assert len(full_got) == 20
    adaptive_got, adaptive_state_n = run(skew_bucket_threshold=64)
    assert adaptive_got == full_got
    assert adaptive_state_n == full_state_n


def test_incremental_dedup_skew_threshold_bounds_deep_clique(spark):
    """A batch carrying one deep exact clique: the clique's buckets
    exceed S and take the W-chain (exact on cliques — canonical
    survives), the scattered uniques stay on the exact join; keep set
    equals the full join's.  Both physical paths must be present in
    the plan (a lead() window AND a self-join)."""
    from python_minerva_etl_spark.ext.incremental_dedup import \
        incremental_dedup

    clique_text = " ".join(f"c{i}" for i in range(15))
    rows = [(i, clique_text) for i in range(1, 31)] + [
        (100 + i, f"unique u{i} " + " ".join(f"u{i}w{j}" for j in range(10)))
        for i in range(10)]
    batch = _mk_docs(spark, rows)

    full_acc, _ = incremental_dedup(None, batch)
    full_kept = {r.doc_id for r in full_acc.collect()}
    assert 1 in full_kept and len(full_kept) == 11  # canonical + uniques

    adaptive_acc, _ = incremental_dedup(None, batch,
                                        skew_bucket_threshold=8)
    assert {r.doc_id for r in adaptive_acc.collect()} == full_kept

    plan = adaptive_acc._jdf.queryExecution().toString()
    assert "lead(" in plan          # chain path engaged (deep buckets)
    assert "Join" in plan           # exact path engaged (small buckets)


def test_persisted_ivf_index_follows_replaced_embeddings(
        spark, tmp_path, monkeypatch):
    """The persisted IVF index of ``dedup_semantic_indexed`` is named
    by the embeddings file's stamps: after the file is replaced, a
    re-run builds a fresh index instead of reusing the stale one, and
    returns what a build into an empty temp dir returns."""
    import shutil
    import tempfile

    from python_minerva_etl_spark.queries.ext_sim import \
        _dedup_semantic_indexed

    def run(tmp):
        os.makedirs(tmp, exist_ok=True)
        monkeypatch.setattr(tempfile, "tempdir", tmp)
        return sorted(tuple(r) for r in
                      _dedup_semantic_indexed(spark, sf).collect())

    sf = str(tmp_path / "sf")
    shutil.copytree(SF, sf)
    os.chmod(sf, 0o755)  # the fixture directory is read-only
    first = run(str(tmp_path / "tmp"))
    emb = os.path.join(sf, "embeddings.parquet")
    os.remove(emb)
    shutil.copyfile(os.path.join(SF_CORRECT, "embeddings.parquet"), emb)
    second = run(str(tmp_path / "tmp"))
    fresh = run(str(tmp_path / "empty"))
    assert second == fresh
    assert second != first
