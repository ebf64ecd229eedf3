"""Arrow-vectorized ANN kernels (ext/ann_arrow.py): assert the LSH
buckets agree with the SQL-expr derivation of the JVM reference, recall
holds, results are deterministic, the per-batch partial top-k is
partition-invariant, and each ANN family keeps one implementation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from python_minerva_etl_spark.ext.ann_arrow import (
    cosine_pairs_lsh_arrow, hyperplane_matrix, lsh_topk_arrow,
    pq_topk_arrow, _bucket_codes, _group_topk)
from python_minerva_etl_spark.ext.similarity import (
    brute_force_topk, cosine_pairs, lsh_bucketed_topk)
from python_minerva_etl_spark.registry import load_table

SF = "/root/testdata/sf0.01"


def _topk_sets(df):
    out: dict[int, set] = {}
    for r in df.select("query_id", "corpus_id").collect():
        out.setdefault(r.query_id, set()).add(r.corpus_id)
    return out


def _recall(exact: dict, approx: dict) -> float:
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    want = sum(len(v) for v in exact.values())
    return hits / want if want else 1.0


def test_group_topk_tie_break():
    qi = np.array([0, 0, 0, 1, 1], dtype=np.int64)
    ci = np.array([5, 3, 9, 2, 1], dtype=np.int64)
    sc = np.array([1.0, 1.0, 0.5, 0.2, 0.2])
    gq, gc, gs = _group_topk(qi, ci, sc, 2)
    # q0: ties at 1.0 -> corpus_id asc (3 then 5); q1: ties -> 1 then 2
    assert list(zip(gq, gc)) == [(0, 3), (0, 5), (1, 1), (1, 2)]


def test_arrow_buckets_match_expr_buckets(spark):
    """The numpy signature path derives its hyperplanes from the SAME
    xxhash64 coefficients as the SQL expr; codes can differ only when
    a projection sits inside float-reassociation error of zero.
    Assert >= 99% (table, vector) agreement on the fixture."""
    emb = load_table(spark, SF, "embeddings")
    num_planes, num_tables, seed = 4, 16, 42

    # expr-side codes: the same bucket expression the HOF twin builds
    # (the twin only exposes joined candidates, so rebuild it here)
    q = emb.limit(200)
    two63 = repr(2.0 ** 63)

    def proj(t_ix, p_ix):
        return (f"aggregate(zip_with(embedding, "
                f"transform(embedding, (_x, i) -> "
                f"CAST(xxhash64({seed}, {t_ix}, {p_ix}, i) AS DOUBLE)"
                f" / CAST('{two63}' AS DOUBLE)), "
                f"(x, h) -> CAST(x AS DOUBLE) * h), "
                f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")

    codes_sql = [
        "(" + " + ".join(
            f"(IF({proj(t, p)} >= 0, 1, 0) * {1 << p})"
            for p in range(num_planes)) + f") AS b{t}"
        for t in range(num_tables)]
    got = q.selectExpr("vec_id", *codes_sql).collect()
    expr_codes = {r.vec_id: [r[f"b{t}"] for t in range(num_tables)]
                  for r in got}

    rows = q.select("vec_id", "embedding").collect()
    X = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    H = hyperplane_matrix(spark, X.shape[1], num_planes, num_tables,
                          seed)
    np_codes = _bucket_codes(X, H)
    agree = total = 0
    for i, r in enumerate(rows):
        for t in range(num_tables):
            total += 1
            agree += int(np_codes[i, t] == expr_codes[r.vec_id][t])
    assert agree / total >= 0.99, f"{agree}/{total}"


def test_lsh_arrow_recall_and_determinism(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = _topk_sets(brute_force_topk(q, emb, k=5))
    got = lsh_topk_arrow(q, emb, k=5, num_planes=4, num_tables=16)
    sets = _topk_sets(got)
    assert _recall(exact, sets) >= 0.6
    again = _topk_sets(
        lsh_topk_arrow(q, emb, k=5, num_planes=4, num_tables=16))
    assert sets == again


def test_lsh_arrow_partition_invariant(spark):
    """Per-batch partial top-k must not depend on how the corpus is
    split into partitions/batches.  (Cosines are compared with a
    tolerance: BLAS reassociates differently per batch shape, so the
    last ulp can drift — ids and ranks must be exactly stable.)"""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, lsh_topk_arrow(
        q, emb, k=5, num_planes=4, num_tables=16).collect()))
    b = sorted(map(tuple, lsh_topk_arrow(
        q, emb.repartition(13), k=5, num_planes=4,
        num_tables=16).collect()))
    assert [(r[0], r[1], r[3]) for r in a] == \
        [(r[0], r[1], r[3]) for r in b]
    assert all(abs(x[2] - y[2]) < 1e-12 for x, y in zip(a, b))


def test_pq_arrow_recall_and_rerank(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = _topk_sets(brute_force_topk(q, emb, k=5))
    got = pq_topk_arrow(q, emb, k=5, rerank=50)
    assert _recall(exact, _topk_sets(got)) >= 0.8
    # two independent builds (codebooks retrained) agree row for row
    again = pq_topk_arrow(q, emb, k=5, rerank=50)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, again.collect()))
    # rerank=None path still ranks and returns k rows per query
    no_rr = pq_topk_arrow(q, emb, k=5)
    counts = {r.query_id: 0 for r in no_rr.collect()}
    for r in no_rr.collect():
        counts[r.query_id] += 1
    assert all(c == 5 for c in counts.values())


def test_pairs_lsh_arrow_precision_and_recall(spark):
    """Every emitted pair is exactly verified against the threshold
    (precision 1.0 up to BLAS-vs-fold last-ulp differences at the
    boundary) and recall of the exact pair set stays useful."""
    emb = load_table(spark, SF, "embeddings")
    exact = {(r.id_a, r.id_b): r.cosine for r in
             cosine_pairs(emb, threshold=0.4).collect()}
    got = {(r.id_a, r.id_b): r.cosine for r in
           cosine_pairs_lsh_arrow(emb, threshold=0.4, num_planes=4,
                                  num_tables=16).collect()}
    near_exact = {(r.id_a, r.id_b) for r in
                  cosine_pairs(emb, threshold=0.4 - 1e-9).collect()}
    assert set(got) <= near_exact                  # precision
    if exact:
        assert len(set(got) & set(exact)) >= int(0.5 * len(exact))
    for k2, v in got.items():
        if k2 in exact:
            assert abs(v - exact[k2]) < 1e-9


def test_lsh_arrow_matches_hof_twin_topk(spark):
    """Same hyperplanes, same buckets (mod reassociation), same exact
    scoring contract: the arrow and HOF LSH twins agree on >= 90% of
    their top-5 sets on the fixture."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    hof = _topk_sets(lsh_bucketed_topk(q, emb, k=5, num_planes=4,
                                       num_tables=16))
    arrow = _topk_sets(lsh_topk_arrow(q, emb, k=5, num_planes=4,
                                      num_tables=16))
    inter = sum(len(hof[qid] & arrow.get(qid, set())) for qid in hof)
    total = sum(len(v) for v in hof.values())
    assert inter / total >= 0.9, f"{inter}/{total}"


def test_blocked_adc_accumulation_bit_identical():
    """The cache-blocked ADC gather in pq_topk_arrow must reproduce
    the naive per-subspace accumulation bit-for-bit (same ascending-s
    addition order per element, only the traversal is blocked)."""
    rng = np.random.default_rng(42)
    for nq, b in ((1, 7), (10, 2000), (257, 1000)):
        m_sub, ksub = 8, 16
        LUT = rng.standard_normal((nq, m_sub, ksub))
        codes = rng.integers(0, ksub, size=(b, m_sub))
        naive = np.zeros((nq, b))
        for s in range(m_sub):
            naive += LUT[:, s, :][:, codes[:, s]]
        blocked = np.empty((nq, b))
        luts = [np.ascontiguousarray(LUT[:, s, :]) for s in range(m_sub)]
        chunk = max(1, (1 << 21) // (nq * 8))
        for j0 in range(0, b, chunk):
            j1 = min(j0 + chunk, b)
            slab = np.zeros((nq, j1 - j0))
            cj = codes[j0:j1]
            for s in range(m_sub):
                slab += luts[s][:, cj[:, s]]
            blocked[:, j0:j1] = slab
        assert np.array_equal(naive, blocked)


def test_ann_families_have_one_implementation():
    """Each ANN family keeps the one form its callers run: ext/similarity
    has no JVM PQ or JVM LSH pair join, ext/ann_arrow has no IVF, no
    function takes an ``adc_dtype`` knob, and the JVM LSH reference
    always ranks (its ``k`` is never None)."""
    import ast
    import os

    import python_minerva_etl_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders, lsh = [], []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if not isinstance(node, (ast.FunctionDef,
                                         ast.AsyncFunctionDef)):
                    continue
                where = f"{rel}:{node.lineno} {node.name}"
                args = node.args
                params = args.posonlyargs + args.args + args.kwonlyargs
                if "adc_dtype" in {a.arg for a in params}:
                    offenders.append(f"{where}(adc_dtype)")
                if (rel == os.path.join("ext", "similarity.py")
                        and node.name in {"pq_topk", "pq_encode",
                                          "cosine_pairs_lsh"}):
                    offenders.append(where)
                if (rel == os.path.join("ext", "ann_arrow.py")
                        and "ivf" in node.name):
                    offenders.append(where)
                if node.name == "lsh_bucketed_topk":
                    lsh.append(where)
                    pos = [a.arg for a in args.posonlyargs + args.args]
                    defaults = dict(zip(pos[len(pos) - len(args.defaults):],
                                        args.defaults))
                    k = next(a for a in params if a.arg == "k")
                    nones = [defaults.get("k"), k.annotation]
                    nones += [x for c in ast.walk(node)
                              if isinstance(c, ast.Compare)
                              and "k" in {getattr(x, "id", None) for x in
                                          (c.left, *c.comparators)}
                              for x in (c.left, *c.comparators)]
                    if any(x is not None and ("None" in ast.unparse(x)
                                              or "Optional" in ast.unparse(x))
                           for x in nones):
                        offenders.append(f"{where}(k=None)")
    assert not offenders, offenders
    assert len(lsh) == 1, lsh

