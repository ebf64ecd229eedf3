"""Similarity search over embedding columns (EXT-SIM-TOPK).

Exact brute-force cosine top-k as the oracle-checkable baseline (and
its Arrow twin), the IVF index (``ivf_topk`` and its build-once
persisted form), exact cosine pair joins, and the LSH-bucketed top-k
that the Arrow LSH kernels in :mod:`.ann_arrow` are tested against.
The LSH and PQ scale paths live in :mod:`.ann_arrow`.

Determinism: the dot product is a *sequential left fold* in double
(``aggregate(zip_with(...))``), verified bit-identical to DuckDB's
``list_dot_product`` on DOUBLE[] (see tests/test_determinism.py) — so
cosine values, and therefore rankings with an id tiebreak, hash-match
exactly.  No Pandas UDF in this path: the fold is whole-stage-codegen
JVM work over the Arrow-backed array column.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot_col(a: str | Column, b: str | Column) -> Column:
    """Sequential double fold of the element products."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(ca, cb,
                       lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0).cast("double"),
                       lambda acc, x: acc + x)


def norm_col(a: str | Column) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(
        F.transform(ca, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0).cast("double"), lambda acc, x: acc + x))


def cosine_col(a: str | Column, b: str | Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine for each query vector.

    The query side is broadcast (queries << corpus); the corpus streams
    once — at 100 TB this is a single scan with a per-partition top-k
    (window rank), no corpus shuffle of the raw vectors.
    """
    # norms are precomputed once per vector (not per pair) — same fold
    # expression, so the cosine value stays bit-identical to the
    # per-pair formulation the oracle uses
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec"),
                       norm_col(vec_col).alias("q_norm"))
    c = corpus.select(F.col(id_col).alias("corpus_id"),
                      F.col(vec_col).alias("c_vec"),
                      norm_col(vec_col).alias("c_norm"))
    scored = (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id",
                (dot_col("q_vec", "c_vec")
                 / (F.col("q_norm") * F.col("c_norm"))).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k))


def lsh_bucketed_topk(queries: DataFrame, corpus: DataFrame,
                      k: int,
                      num_planes: int = 16, num_tables: int = 4,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      seed: int = 42) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH (sign sketches).

    Each vector gets ``num_tables`` bucket codes (one per table,
    ``num_planes`` sign bits each) from deterministic pseudo-random
    hyperplanes (xxhash64-derived coefficients — no RNG state, fully
    reproducible across the cluster).  Query/corpus join per (table,
    bucket); exact cosine + top-k *within the candidate set*.  At
    100 TB the candidate set is ~1/2^planes of the corpus per table —
    partition pruning for vectors.
    """
    def bucket_expr(prefix: str) -> Column:
        # One F.expr STRING for the whole table array (the simhash64
        # lesson): the old Column-lambda construction issued a py4j
        # round-trip per operator — 64 nested HOF projections took
        # ~110 s of pure DRIVER time per call (measured sf0.01, r11);
        # parsing the identical tree from one SQL string is
        # milliseconds.  Value-identical: same xxhash64 argument
        # types (int literals, int transform index), same
        # CAST-to-double / 2^63 centering, same int bit arithmetic.
        two63 = repr(2.0 ** 63)

        def proj(t_ix: int, p_ix: int) -> str:
            return (f"aggregate(zip_with(`{prefix}`, "
                    f"transform(`{prefix}`, (_x, i) -> "
                    f"CAST(xxhash64({seed}, {t_ix}, {p_ix}, i) AS DOUBLE)"
                    f" / CAST('{two63}' AS DOUBLE)), "
                    f"(x, h) -> CAST(x AS DOUBLE) * h), "
                    f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")

        tables = []
        for t_ix in range(num_tables):
            code = " + ".join(
                f"(IF({proj(t_ix, p_ix)} >= 0, 1, 0) * {1 << p_ix})"
                for p_ix in range(num_planes))
            tables.append(f"struct({t_ix} AS tbl, ({code}) AS bucket)")
        return F.expr(f"explode(array({', '.join(tables)}))")

    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec"),
                       bucket_expr(vec_col).alias("qb"))
    c = corpus.select(F.col(id_col).alias("corpus_id"),
                      F.col(vec_col).alias("c_vec"),
                      bucket_expr(vec_col).alias("cb"))
    cand = (
        q.join(c, (F.col("qb.tbl") == F.col("cb.tbl"))
               & (F.col("qb.bucket") == F.col("cb.bucket"))
               & (F.col("query_id") != F.col("corpus_id")))
        .select("query_id", "corpus_id", "q_vec", "c_vec").distinct()
    )
    scored = cand.select("query_id", "corpus_id",
                         cosine_col("q_vec", "c_vec").alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k))


def _cent_lit(cs) -> str:
    entries = []
    for i, v in enumerate(cs):
        vals = ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in v)
        n = sum(x * x for x in v) ** 0.5
        entries.append(f"struct({i} AS cell, array({vals}) AS v, "
                       f"CAST('{n!r}' AS DOUBLE) AS n)")
    return "array(" + ", ".join(entries) + ")"


def _ivf_dot(vec: str, cvec: str) -> str:
    return (f"aggregate(zip_with({vec}, {cvec}, "
            f"(x, y) -> CAST(x AS DOUBLE) * y), "
            f"CAST(0.0 AS DOUBLE), (a, x) -> a + x)")


def _with_cell(df: DataFrame, cs, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, vnorm, cell): scan-local nearest-centroid argmax.
    array_max over (score, cell) structs — structs compare by
    leading field, so each centroid's dot product is evaluated
    exactly once (ties break to the larger cell id)."""
    lit = _cent_lit(cs)
    score = f"({_ivf_dot('__v', 'ct.v')} / (__vn * ct.n))"
    best = (f"array_max(transform({lit}, "
            f"ct -> struct({score} AS s, ct.cell AS cell))).cell")
    return (df.select(F.col(id_col).alias("id"),
                      F.col(vec_col).alias("__v"),
                      norm_col(vec_col).alias("__vn"))
            .withColumn("cell", F.expr(best)))


def _ivf_centroids(corpus: DataFrame, num_cells: int, lloyd_iters: int,
                   id_col: str, vec_col: str) -> list[list[float]]:
    """Deterministic k-means centroids: seeds are the ``num_cells``
    corpus vectors with the smallest ``xxhash64(id)`` (a reproducible
    pseudo-random sample), refined by ``lloyd_iters`` Lloyd steps.
    K × d doubles — bounded metadata, safe to collect."""
    seeds = (corpus.orderBy(F.xxhash64(F.col(id_col)))
             .limit(num_cells).select(vec_col).collect())
    cents = [[float(x) for x in r[0]] for r in seeds]
    if not cents:
        raise ValueError("ivf: empty corpus")
    num_cells = min(num_cells, len(cents))  # corpus smaller than K
    for _ in range(lloyd_iters):
        assigned = _with_cell(corpus, cents, id_col, vec_col)
        means = (assigned
                 .select("cell", F.posexplode("__v").alias("pos", "x"))
                 .groupBy("cell", "pos")
                 .agg(F.avg(F.col("x").cast("double")).alias("m"))
                 .collect())
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r.cell, {})[r.pos] = r.m
        cents = [
            [by_cell[i][p] for p in sorted(by_cell[i])]
            if i in by_cell else cents[i]          # empty cell keeps seed
            for i in range(num_cells)]
    return cents


def _probes_expr(cents, nprobe: int) -> str:
    """SQL expr: the ``nprobe`` (score, cell) structs nearest to the
    vector bound as ``__v`` (with norm ``__vn``)."""
    lit = _cent_lit(cents)
    probe_score = f"({_ivf_dot('__v', 'ct.v')} / (__vn * ct.n))"
    return (f"slice(array_sort(transform({lit}, "
            f"ct -> struct({probe_score} AS s, ct.cell AS cell)), "
            f"(l, r) -> if(l.s > r.s, -1, if(l.s < r.s, 1, 0))), "
            f"1, {nprobe})")


def _ivf_scored(queries: DataFrame, c_assigned: DataFrame,
                cents, k: int, nprobe: int,
                id_col: str, vec_col: str) -> DataFrame:
    """Probe the ``nprobe`` nearest cells per query and rank the exact
    cosine within the candidate set.  ``c_assigned`` must have columns
    (corpus_id, c_vec, c_norm, cell)."""
    probes = _probes_expr(cents, nprobe)
    q_probed = (queries.select(F.col(id_col).alias("query_id"),
                               F.col(vec_col).alias("__v"),
                               norm_col(vec_col).alias("__vn"))
                .withColumn("pc", F.explode(F.expr(probes)))
                .select("query_id", F.col("__v").alias("q_vec"),
                        F.col("__vn").alias("q_norm"),
                        F.col("pc.cell").alias("cell")))
    scored = (
        F.broadcast(q_probed)
        .join(c_assigned, "cell")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id",
                (dot_col("q_vec", "c_vec")
                 / (F.col("q_norm") * F.col("c_norm"))).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k))


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int,
             num_cells: int = 16, nprobe: int = 4, lloyd_iters: int = 1,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer —
    the classic ANN structure next to LSH: partition the corpus into
    ``num_cells`` Voronoi cells, probe only the ``nprobe`` cells
    nearest each query.

    Deterministic throughout; the centroid table rides into the plan
    as a literal and cell assignment is entirely scan-local (no
    shuffle, no crossJoin).  At 100 TB: corpus assignment is one pass;
    each query touches ~nprobe/num_cells of the corpus via the (cell)
    equi-join.  For a standing corpus, build the index ONCE with
    :func:`build_ivf_index` and query with :func:`ivf_topk_indexed`
    instead of re-deriving centroids + assignment per call.
    """
    cents = _ivf_centroids(corpus, num_cells, lloyd_iters, id_col, vec_col)
    c_assigned = _with_cell(corpus, cents, id_col, vec_col).select(
        F.col("id").alias("corpus_id"), F.col("__v").alias("c_vec"),
        F.col("__vn").alias("c_norm"), "cell")
    return _ivf_scored(queries, c_assigned, cents, k, nprobe,
                       id_col, vec_col)


def build_ivf_index(corpus: DataFrame, path: str,
                    num_cells: int = 16, lloyd_iters: int = 1,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Persist an IVF index: centroids at ``<path>/centroids`` and the
    cell-assigned corpus at ``<path>/corpus``, hive-partitioned on
    ``cell`` so a query's probe set prunes whole partition directories
    at the parquet scan (physical nprobe/num_cells I/O, not just a
    logical filter).  Build once per corpus snapshot; at 100 TB this
    is the difference between one assignment pass total and one per
    query batch."""
    spark = corpus.sparkSession
    cents = _ivf_centroids(corpus, num_cells, lloyd_iters, id_col, vec_col)
    cent_rows = [(i, v, float(sum(x * x for x in v) ** 0.5))
                 for i, v in enumerate(cents)]
    (spark.createDataFrame(cent_rows, "cell int, v array<double>, n double")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(path, "centroids")))
    (_with_cell(corpus, cents, id_col, vec_col)
     .select(F.col("id").alias("corpus_id"), F.col("__v").alias("c_vec"),
             F.col("__vn").alias("c_norm"), "cell")
     .write.mode("overwrite").partitionBy("cell")
     .parquet(os.path.join(path, "corpus")))


def ivf_topk_indexed(spark, queries: DataFrame, index_path: str, k: int,
                     nprobe: int = 4, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Query a :func:`build_ivf_index` index.  The union of the batch's
    probe cells (bounded by nprobe × |queries|, and the query side is
    broadcast anyway) is collected and pushed as a LITERAL partition
    filter on the indexed corpus — the scan lists and reads only the
    probed ``cell=`` directories.  (Spark's dynamic partition pruning
    does not fire here: the probe side is an exploded expression, not
    the selective-dimension shape its heuristic recognizes.)"""
    cent_rows = (spark.read.parquet(os.path.join(index_path, "centroids"))
                 .orderBy("cell").collect())
    cents = [[float(x) for x in r.v] for r in cent_rows]
    probed = sorted({r.cell for r in (
        queries.select(F.col(vec_col).alias("__v"),
                       norm_col(vec_col).alias("__vn"))
        .select(F.explode(F.expr(_probes_expr(cents, nprobe)))
                .alias("pc"))
        .select(F.col("pc.cell").alias("cell")).distinct().collect())})
    c_assigned = (spark.read.parquet(os.path.join(index_path, "corpus"))
                  .filter(F.col("cell").isin(probed)))
    return _ivf_scored(queries, c_assigned, cents, k, nprobe,
                       id_col, vec_col)


def brute_force_topk_arrow(queries: DataFrame, corpus: DataFrame, k: int,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Arrow-vectorized exact top-k: the small query matrix is shipped
    to every partition; each corpus Arrow batch becomes one numpy
    matmul (BLAS) instead of per-element codegen folds.

    This is the 100 TB brute-force path: ~10-100× the per-row HOF
    throughput once vectors are wide, at the cost of bit-exactness
    (BLAS reassociates the sums) — hence the HOF variant remains the
    oracle-checkable contract and this one is its fast twin (same
    ranking on non-degenerate data; tests/test_similarity.py).

    Each batch emits only its per-query top-k (same (cosine desc,
    corpus_id asc) tie-break as the final window — top-k distributes
    over unions, so the result is identical to ranking all n×m scored
    pairs while the window stage sees n_batches × m × k rows).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q_rows = (queries.select(F.col(id_col).alias("qid"),
                             F.col(vec_col).alias("qv")).collect())
    q_ids = np.array([r.qid for r in q_rows], dtype=np.int64)
    Q = np.array([r.qv for r in q_rows], dtype=np.float64)        # (m, d)
    Qn = np.linalg.norm(Q, axis=1)

    schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("corpus_id", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ])

    def score(batches):
        for pdf in batches:
            X = np.array(list(pdf[vec_col]), dtype=np.float64)    # (b, d)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            Xn = np.linalg.norm(X, axis=1)
            ST = (Q @ X.T) / np.outer(Qn, Xn)                     # (m, b)
            m, b = ST.shape
            ST[q_ids[:, None] == ids[None, :]] = -np.inf          # self
            if b <= k:
                # tiny batch: every non-self pair survives
                qi, ci = np.nonzero(ST > -np.inf)
                yield pd.DataFrame({"query_id": q_ids[qi],
                                    "corpus_id": ids[ci],
                                    "cosine": ST[qi, ci]})
                continue
            # top-k by VALUE via argpartition — O(m·b), not the
            # O(m·b·log(m·b)) flattened lexsort (measured 202 s vs
            # the partitioned path at 200k x 1000).  Ties at the k-th
            # boundary are then resolved exactly like the final
            # window (cosine desc, corpus_id asc): keep the strict
            # betters, fill from the boundary-tied columns by lowest
            # corpus id.  Top-k distributes over unions, so the
            # global result is unchanged.
            part = np.argpartition(ST, b - k, axis=1)[:, b - k:]
            pvals = np.take_along_axis(ST, part, axis=1)
            kth = pvals.min(axis=1)                               # (m,)
            out_q, out_c, out_s = [], [], []
            for r in range(m):
                vr = kth[r]
                if vr == -np.inf:                   # < k non-self cols
                    cols = part[r][pvals[r] > -np.inf]
                else:
                    better = part[r][pvals[r] > vr]
                    need = k - len(better)
                    tied = np.flatnonzero(ST[r] == vr)
                    if need <= 0:
                        sel = tied[:0]
                    elif len(tied) > need:
                        sel = tied[np.argpartition(
                            ids[tied], need - 1)[:need]]
                    else:
                        sel = tied
                    cols = np.concatenate([better, sel])
                out_q.append(np.full(len(cols), r, dtype=np.int64))
                out_c.append(cols)
                out_s.append(ST[r, cols])
            qi = np.concatenate(out_q)
            ci = np.concatenate(out_c)
            yield pd.DataFrame({
                "query_id": q_ids[qi],
                "corpus_id": ids[ci],
                "cosine": np.concatenate(out_s),
            })

    scored = corpus.select(id_col, vec_col).mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k))


def cosine_pairs(corpus: DataFrame, threshold: float,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """EXT embedding-cosine near-dup: all pairs with cosine >= τ.
    Exact small-n REFERENCE form (self cross join on id<id) — kept as
    the specification the scale paths are tested against.  For the
    EXACT scale path use :func:`cosine_pairs_pivot` (identical
    output, pivot-blocked join); for approximate-recall use
    ``ann_arrow.cosine_pairs_lsh_arrow``."""
    a = corpus.select(F.col(id_col).alias("id_a"),
                      F.col(vec_col).alias("vec_a"))
    b = corpus.select(F.col(id_col).alias("id_b"),
                      F.col(vec_col).alias("vec_b"))
    return (
        F.broadcast(a).crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_col("vec_a", "vec_b").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_pairs_pivot(corpus: DataFrame, threshold: float,
                       num_pivots: int = 8,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """EXACT cosine pair join at scale: metric-space PIVOT BLOCKING
    instead of an all-pairs cross join — output identical to
    :func:`cosine_pairs` (locked by tests), but the join is a
    cell-keyed equi-join whose per-cell work is bounded by local
    density, never |corpus|².

    Construction (the classic pivot-based epsilon-join; triangle
    inequality in the normalized-Euclidean metric, where
    ``d(x,y) = sqrt(2 - 2·cos(x,y))`` and cos >= τ ⇔ d <= r =
    sqrt(2-2τ)):

    1. ``num_pivots`` pivot vectors are taken deterministically
       (lowest ids), normalized, and embedded as literal arrays —
       k·P doubles, broadcast-free.
    2. Every vector computes its distance to each pivot JVM-side;
       its HOME cell is the nearest pivot.
    3. Every vector REPLICATES into each cell p with
       ``d(x,p) <= d(x,home(x)) + 2r``.  For any pair with
       ``d(x,y) <= r``: ``d(x,h(y)) <= d(x,y) + d(y,h(y))
       <= r + d(y,h(x)) <= r + (d(y,x) + d(x,h(x))) <=
       d(x,h(x)) + 2r`` — so x's replica set always contains y's
       home cell, and the (replica ⋈ home) equi-join on cell id
       loses NOTHING.
    4. Exact cosine re-verifies every candidate (so false candidates
       only cost compute, never correctness).

    Replication factor is ~1–3 cells per vector at near-dup
    thresholds (2r ≈ 0.63 at τ=0.95 vs ~1.4 typical inter-point
    distances); skewed cells can additionally be salted like any hot
    equi-join key."""
    r = float((2.0 * (1.0 - threshold)) ** 0.5)
    pivots = [row[0] for row in
              corpus.select(F.col(vec_col)).orderBy(F.col(id_col))
              .limit(num_pivots).collect()]
    norm_pivots = []
    for p in pivots:
        n = sum(float(v) * float(v) for v in p) ** 0.5 or 1.0
        norm_pivots.append([float(v) / n for v in p])

    base = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        F.expr("sqrt(aggregate(transform({0}, v -> CAST(v AS DOUBLE) * v),"
               " 0D, (acc, x) -> acc + x))".format(vec_col)).alias("nrm"))
    base = base.filter(F.col("nrm") > 0).withColumn(
        "u", F.expr("transform(vec, v -> CAST(v AS DOUBLE) / nrm)"))

    def dist_expr(p: list[float]) -> str:
        lit = "array({})".format(",".join(f"{v!r}D" for v in p))
        dot = (f"aggregate(zip_with(u, {lit}, (a, b) -> a * b), 0D, "
               "(acc, x) -> acc + x)")
        return f"sqrt(greatest(0D, 2D - 2D * ({dot})))"

    dists = F.expr("array({})".format(
        ",".join(dist_expr(p) for p in norm_pivots)))
    cells = (base.withColumn("d", dists)
             .withColumn("home_d", F.array_min("d"))
             .withColumn("home", F.expr(
                 "array_position(d, array_min(d))").cast("int")))
    homes = cells.select(F.col("id").alias("id_b"),
                         F.col("vec").alias("vec_b"), "home")
    reps = (cells.select(
        "id", "vec", F.posexplode("d").alias("cell0", "cd"),
        "home_d")
        .filter(F.col("cd") <= F.col("home_d") + 2 * r)
        .select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"),
                (F.col("cell0") + 1).cast("int").alias("home")))
    cand = (reps.join(homes, "home")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "vec_a", "vec_b")
            .dropDuplicates(["id_a", "id_b"]))
    return (cand.select(
        "id_a", "id_b", cosine_col("vec_a", "vec_b").alias("cosine"))
        .filter(F.col("cosine") >= threshold))


def label_centroids(corpus: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding",
                    scale_bits: int = 24) -> DataFrame:
    """Per-label mean embedding (the IVF-training / cluster-profile
    primitive): posexplode -> one hash-agg shuffle on (label, pos) ->
    reassemble the centroid array ordered by position.

    Determinism at scale: float addition is not associative, so a
    naive distributed SUM of coordinates depends on partitioning.
    Coordinates are instead accumulated FIXED-POINT — ``floor(x *
    2^scale_bits)`` as BIGINT (exact: a float32 scaled by a power of
    two is exact in double, floor is exact, integer sums commute) —
    and divided back out once at the end.  The centroid is therefore
    bit-identical on any cluster size, and an exact SQL oracle exists.
    Mantissa: 2^24 captures every bit of a float32 in [-1, 1].

    Returns ``(label, n, centroid array<double>)``.
    """
    scale = 1 << scale_bits
    q = (corpus.select(F.col(label_col).alias("label"),
                       F.posexplode(F.col(vec_col)).alias("pos", "val"))
         .select("label", "pos",
                 F.floor(F.col("val").cast("double") * scale)
                 .cast("bigint").alias("q")))
    sums = q.groupBy("label", "pos").agg(
        F.sum("q").alias("c"), F.count("*").alias("n"))
    return (sums.groupBy("label")
            .agg(F.max("n").alias("n"),
                 F.array_sort(F.collect_list(F.struct("pos", "c")))
                 .alias("__cs"))
            .select("label", "n",
                    F.expr(f"transform(__cs, s -> CAST(s.c AS DOUBLE) "
                           f"/ (n * CAST({scale} AS DOUBLE)))")
                    .alias("centroid")))
