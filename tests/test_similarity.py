"""Similarity-search variants agree: the codegen-fold contract path,
the Arrow/numpy fast path, and the LSH approximate path."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_minerva_etl_spark.ext.similarity import (brute_force_topk,
                                                     brute_force_topk_arrow,
                                                     lsh_bucketed_topk)
from python_minerva_etl_spark.registry import load_table

SF = "/root/testdata/sf0.01"


def _topk_sets(df):
    rows = df.collect()
    out: dict[int, set] = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.corpus_id)
    return out


def test_arrow_path_matches_fold_path(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    fold = brute_force_topk(q, emb, k=5)
    arrow = brute_force_topk_arrow(q, emb, k=5)
    assert _topk_sets(fold) == _topk_sets(arrow)
    # cosine values agree to float tolerance (BLAS reassociates)
    a = {(r.query_id, r.corpus_id): r.cosine for r in fold.collect()}
    b = {(r.query_id, r.corpus_id): r.cosine for r in arrow.collect()}
    assert all(abs(a[k2] - b[k2]) < 1e-12 for k2 in a)


def test_lsh_recall_on_top1(spark):
    """LSH is approximate; its contract is recall on the strongest
    neighbors. Check top-1 recall >= 60% on this corpus."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact_top1 = {r.query_id: r.corpus_id
                  for r in brute_force_topk(q, emb, k=1).collect()}
    lsh = lsh_bucketed_topk(q, emb, k=5, num_planes=4, num_tables=16)
    lsh_sets = _topk_sets(lsh)
    hits = sum(1 for qid, cid in exact_top1.items()
               if cid in lsh_sets.get(qid, set()))
    assert hits >= int(0.6 * len(exact_top1))


def test_ivf_recall_and_determinism(spark):
    """IVF probes nprobe of num_cells Voronoi cells; contract is
    top-1 recall on this corpus plus bit-stable output across runs
    (hash-seeded centroids, no RNG state)."""
    from python_minerva_etl_spark.ext.similarity import ivf_topk

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact_top1 = {r.query_id: r.corpus_id
                  for r in brute_force_topk(q, emb, k=1).collect()}
    ivf = ivf_topk(q, emb, k=5, num_cells=8, nprobe=4, lloyd_iters=1)
    ivf_sets = _topk_sets(ivf)
    hits = sum(1 for qid, cid in exact_top1.items()
               if cid in ivf_sets.get(qid, set()))
    assert hits >= int(0.6 * len(exact_top1))
    again = ivf_topk(q, emb, k=5, num_cells=8, nprobe=4, lloyd_iters=1)
    a = sorted((r.query_id, r.corpus_id, r.rank) for r in ivf.collect())
    b = sorted((r.query_id, r.corpus_id, r.rank) for r in again.collect())
    assert a == b


def test_ivf_small_corpus_clamps_cells(spark):
    """num_cells larger than the corpus must clamp, not IndexError."""
    from python_minerva_etl_spark.ext.similarity import ivf_topk

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 10)
    q = emb.filter(F.col("vec_id") < 3)
    out = ivf_topk(q, emb, k=3, num_cells=64, nprobe=4, lloyd_iters=1)
    assert out.count() > 0


def test_label_centroids_partition_invariant_and_close_to_mean(spark):
    """Fixed-point accumulation: bit-identical under any partitioning,
    and within 2^-24 per coordinate of the float mean."""
    import numpy as np

    from python_minerva_etl_spark.ext.similarity import label_centroids

    emb = load_table(spark, SF, "embeddings")
    a = {r.label: (r.n, list(r.centroid))
         for r in label_centroids(emb).collect()}
    b = {r.label: (r.n, list(r.centroid))
         for r in label_centroids(emb.repartition(17)).collect()}
    assert a == b                                   # bit-identical
    rows = emb.select("label", "embedding").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(np.array(r.embedding,
                                                         dtype=np.float64))
    for label, (n, cent) in a.items():
        ref = np.mean(by_label[label], axis=0)
        assert n == len(by_label[label])
        assert np.abs(np.array(cent) - ref).max() < 2 ** -23


def test_ivf_index_build_query_matches_direct(spark, tmp_path):
    """build_ivf_index + ivf_topk_indexed == ivf_topk with the same
    parameters (same deterministic centroids), and the indexed scan
    prunes to the probed cell directories."""
    from python_minerva_etl_spark.ext.similarity import (build_ivf_index,
                                                         ivf_topk,
                                                         ivf_topk_indexed)

    emb = load_table(spark, SF, "embeddings")
    queries = emb.limit(8)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, num_cells=16, lloyd_iters=1)
    indexed = ivf_topk_indexed(spark, queries, idx, k=5, nprobe=3)
    direct = ivf_topk(queries, emb, k=5, num_cells=16, nprobe=3,
                      lloyd_iters=1)
    pa = {(r.query_id, r.rank): r.corpus_id for r in indexed.collect()}
    pb = {(r.query_id, r.rank): r.corpus_id for r in direct.collect()}
    assert pa == pb and len(pa) == 40

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[cell[^\]]*?"
                  r"(?: IN \(([^)]*)\)| INSET ([0-9, ]+))", plan)
    assert m, f"probed-cell partition filter missing from the scan"
    cells = (m.group(1) or m.group(2)).split(",")
    assert len(cells) < 16, "no cells pruned"


def test_pivot_pairs_exact_and_blocked(spark):
    """cosine_pairs_pivot == cosine_pairs on a clustered fixture at a
    near-dup threshold, with genuinely non-trivial output — and the
    plan is a cell-keyed equi-join, never a cartesian product."""
    import math

    from python_minerva_etl_spark.ext.similarity import (cosine_pairs,
                                                         cosine_pairs_pivot)

    # 30 clusters x 10 members around well-separated centers
    rows = []
    dim = 8
    for c in range(30):
        center = [math.sin(0.7 * c * (d + 1)) for d in range(dim)]
        for m in range(10):
            eps = [((c * 31 + m * 7 + d) % 11 - 5) / 200.0
                   for d in range(dim)]
            rows.append((c * 100 + m,
                         [center[d] + eps[d] for d in range(dim)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for thr in (0.9, 0.95, 0.99):
        want = {(r.id_a, r.id_b) for r in cosine_pairs(emb, thr).collect()}
        got_rows = cosine_pairs_pivot(emb, thr).collect()
        got = {(r.id_a, r.id_b) for r in got_rows}
        assert got == want, thr
        assert len(want) > 100  # non-vacuous: real intra-cluster pairs
    plan = cosine_pairs_pivot(emb, 0.95)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_brute_force_arrow_tie_break_on_replica_cliques(spark):
    """The argpartition batch top-k must resolve exact cosine ties the
    same way the spec does — (cosine desc, corpus_id asc) — even when
    a replica clique is bigger than k and spans Arrow batches."""
    from python_minerva_etl_spark.ext.similarity import \
        brute_force_topk_arrow

    base = [1.0, 2.0, 3.0, 4.0]
    other = [4.0, -3.0, 2.0, -1.0]
    rows = ([(i, base) for i in range(30)]            # clique, ids 0-29
            + [(100 + i, other) for i in range(10)])
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(1000, base)], "vec_id long, embedding array<double>")

    for parts in (1, 7):
        got = (brute_force_topk_arrow(
            queries, corpus.repartition(parts), k=5)
            .orderBy("rank").collect())
        assert [r.corpus_id for r in got] == [0, 1, 2, 3, 4], parts
        assert all(abs(r.cosine - 1.0) < 1e-12 for r in got)
