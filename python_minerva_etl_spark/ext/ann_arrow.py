"""Arrow-vectorized ANN kernels (EXT-SIM-TOPK, EXT-DEDUP-NEAR
embedding path): the LSH top-k of ``sim_topk_lsh``, the LSH pair join
of ``dedup_embedding_lsh`` and the PQ/ADC top-k of ``sim_topk_pq``.

The r11 recall artifact recorded the DataFrame LSH/PQ paths LOSING to
the exact Arrow baseline at every measured scale — the bucket/cell
*pruning* was right, but the signature computation and the
within-bucket scoring ran as per-element JVM HOF folds
(``aggregate(zip_with(...))``, ~10-100 ns per element-op) while the
exact twin did one BLAS matmul per Arrow batch.  This module keeps the
index structures (hyperplane buckets, PQ codebooks) and routes ALL
per-vector arithmetic through numpy inside ``mapInPandas`` kernels:

- signatures / PQ encoding: one matmul per batch;
- candidate scoring: blocked submatrix matmuls per bucket;
- per-batch partial top-k inside the kernel (argpartition + exact
  tie-break), so the final Spark window ranks ``n_batches x m x k``
  rows instead of every scored pair.

Index derivations are bit-deterministic:

- LSH hyperplanes: the same ``xxhash64(seed, t, p, i) / 2^63``
  coefficients as :func:`.similarity.lsh_bucketed_topk`, the JVM
  reference the tests compare against, computed by one tiny JVM job
  (T x P x d doubles of bounded metadata) — see
  :func:`hyperplane_matrix`.  Bucket codes can differ from the
  reference only where a projection is within float reassociation
  error of zero (agreement asserted >= 99% in tests).
- PQ seeds: the lowest-``xxhash64(id)`` corpus sample, the recipe of
  the IVF centroids in :mod:`.similarity`; Lloyd refinement uses
  per-partition partial sums (bounded: n_partitions x m x ksub rows
  collected — driver scalars, not corpus data).

Scale notes (100 TB): every kernel is a single corpus scan with no
shuffle before the bounded top-k window; the query side is collected
and closed over (queries << corpus, the same contract as
``brute_force_topk_arrow``).  A trained PQ quantizer can be passed
back in (``codebooks``) to reuse it across query batches.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PAIR_SCHEMA = "query_id long, corpus_id long, cosine double"


# --------------------------------------------------------------- util

def _collect_queries(queries: DataFrame, id_col: str, vec_col: str):
    rows = queries.select(id_col, vec_col).collect()
    if not rows:
        raise ValueError("ann_arrow: empty query set")
    q_ids = np.array([r[0] for r in rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return q_ids, Q


def _mat(col) -> np.ndarray:
    """pandas Series of array values -> (b, d) float64 matrix."""
    return np.array(list(col), dtype=np.float64)


def _dedupe_pairs(qi, ci, sc):
    """Drop duplicate (query, corpus) pairs (multi-table candidates)."""
    order = np.lexsort((ci, qi))
    qi, ci, sc = qi[order], ci[order], sc[order]
    if len(qi) > 1:
        dup = (qi[1:] == qi[:-1]) & (ci[1:] == ci[:-1])
        keep = np.concatenate(([True], ~dup))
        qi, ci, sc = qi[keep], ci[keep], sc[keep]
    return qi, ci, sc


def _group_topk(qi, ci, sc, k: int):
    """Per-query top-k by (cosine desc, corpus_id asc) — the same
    tie-break as the final window, so per-batch pre-selection never
    changes the global result (top-k distributes over unions)."""
    order = np.lexsort((ci, -sc, qi))
    qi, ci, sc = qi[order], ci[order], sc[order]
    starts = np.flatnonzero(
        np.concatenate(([True], qi[1:] != qi[:-1])))
    sizes = np.diff(np.append(starts, len(qi)))
    pos = np.arange(len(qi)) - np.repeat(starts, sizes)
    keep = pos < k
    return qi[keep], ci[keep], sc[keep]


def _matrix_topk(ST: np.ndarray, ids: np.ndarray, k: int):
    """Per-row top-k of a (n_q, b) score matrix by VALUE via
    argpartition — O(n_q·b), not the O(n_q·b·log(n_q·b)) flattened
    lexsort (the same fix ``brute_force_topk_arrow`` carries; measured
    81.5 s -> single digits on the PQ kernel at 200k x 1000).  Ties at
    the k-th boundary resolve exactly like the final window (score
    desc, corpus_id asc): strict betters kept, boundary ties filled by
    lowest corpus id.  Self-matches must already be masked to -inf.
    Returns (row_idx, col_idx, score) with col_idx positions into
    ``ids``' batch."""
    nq, b = ST.shape
    if b <= k:
        qi, ci = np.nonzero(ST > -np.inf)
        return qi, ci, ST[qi, ci]
    part = np.argpartition(ST, b - k, axis=1)[:, b - k:]
    pvals = np.take_along_axis(ST, part, axis=1)
    kth = pvals.min(axis=1)
    out_q, out_c = [], []
    for r in range(nq):
        vr = kth[r]
        if vr == -np.inf:                    # < k unmasked cols
            cols = part[r][pvals[r] > -np.inf]
        else:
            better = part[r][pvals[r] > vr]
            need = k - len(better)
            tied = np.flatnonzero(ST[r] == vr)
            if need <= 0:
                sel = tied[:0]
            elif len(tied) > need:
                sel = tied[np.argpartition(ids[tied], need - 1)[:need]]
            else:
                sel = tied
            cols = np.concatenate([better, sel])
        out_q.append(np.full(len(cols), r, dtype=np.int64))
        out_c.append(cols)
    qi = np.concatenate(out_q)
    ci = np.concatenate(out_c)
    return qi, ci, ST[qi, ci]


def _rank_topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id"))
    return (cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k))


def _emit(q_ids, qi, ci, sc):
    import pandas as pd
    return pd.DataFrame({"query_id": q_ids[qi],
                         "corpus_id": ci,
                         "cosine": sc})


# ---------------------------------------------------------------- LSH

def hyperplane_matrix(spark, d: int, num_planes: int, num_tables: int,
                      seed: int = 42) -> np.ndarray:
    """(num_tables, num_planes, d) coefficients, derived exactly like
    the SQL expr in ``similarity.lsh_bucketed_topk``:
    ``CAST(xxhash64(seed, t, p, i) AS DOUBLE) / 2^63`` with all four
    arguments INT — one tiny JVM job over T*P*d ids (bounded plan
    metadata, e.g. 16x4x64 = 4096 doubles)."""
    pd_rows = (
        spark.range(num_tables * num_planes * d)
        .select((F.col("id") / (num_planes * d)).cast("int").alias("t"),
                ((F.col("id") % (num_planes * d)) / d).cast("int")
                .alias("p"),
                (F.col("id") % d).cast("int").alias("i"))
        .select("t", "p", "i",
                (F.xxhash64(F.lit(seed), F.col("t"), F.col("p"),
                            F.col("i")).cast("double")
                 / F.lit(2.0 ** 63)).alias("h"))
        .toPandas())
    H = np.zeros((num_tables, num_planes, d))
    H[pd_rows["t"], pd_rows["p"], pd_rows["i"]] = pd_rows["h"]
    return H


def _bucket_codes(X: np.ndarray, H: np.ndarray) -> np.ndarray:
    """(b, T) int64 bucket codes: sign bits of the hyperplane
    projections, packed little-endian per table (bit p = 2^p), the
    same packing as the SQL expr."""
    proj = np.einsum("bd,tpd->btp", X, H)
    bits = (proj >= 0).astype(np.int64)
    weights = 1 << np.arange(H.shape[1], dtype=np.int64)
    return bits @ weights


def _bucket_lut(q_codes: np.ndarray, num_tables: int):
    """Per table: {bucket -> np.array of query row indices}."""
    luts: list[dict[int, np.ndarray]] = []
    for t in range(num_tables):
        by: dict[int, list[int]] = {}
        for qi, b in enumerate(q_codes[:, t]):
            by.setdefault(int(b), []).append(qi)
        luts.append({b: np.array(v, dtype=np.int64)
                     for b, v in by.items()})
    return luts


def _corpus_groups(col: np.ndarray):
    """Yield (bucket_value, row_indices) groups of a code column."""
    order = np.argsort(col, kind="stable")
    vals, starts = np.unique(col[order], return_index=True)
    bounds = np.append(starts, len(order))
    for j, v in enumerate(vals):
        yield int(v), order[bounds[j]:bounds[j + 1]]


def lsh_topk_arrow(queries: DataFrame, corpus: DataFrame, k: int,
                   num_planes: int = 4, num_tables: int = 16,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   seed: int = 42) -> DataFrame:
    """Approximate top-k with the same random-hyperplane buckets as
    ``similarity.lsh_bucketed_topk`` but Arrow-vectorized end to end:
    per corpus batch, one matmul computes every table's codes, each
    (table, bucket) group scores only against the queries hashed to
    it (blocked submatrix matmul), duplicates across tables are
    dropped, and only the batch's per-query top-k leaves the kernel.
    """
    spark = corpus.sparkSession
    q_ids, Q = _collect_queries(queries, id_col, vec_col)
    d = Q.shape[1]
    H = hyperplane_matrix(spark, d, num_planes, num_tables, seed)
    q_codes = _bucket_codes(Q, H)
    luts = _bucket_lut(q_codes, num_tables)
    Qn = np.linalg.norm(Q, axis=1)

    def kern(batches):
        for pdf in batches:
            X = _mat(pdf[vec_col])
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            codes = _bucket_codes(X, H)
            Xn = np.linalg.norm(X, axis=1)
            qs, cs, ss = [], [], []
            for t in range(num_tables):
                lut = luts[t]
                for bucket, rows in _corpus_groups(codes[:, t]):
                    qidx = lut.get(bucket)
                    if qidx is None:
                        continue
                    S = (X[rows] @ Q[qidx].T
                         / np.outer(Xn[rows], Qn[qidx]))
                    qs.append(np.repeat(qidx, len(rows)))
                    cs.append(np.tile(ids[rows], len(qidx)))
                    ss.append(S.T.ravel())
            if not qs:
                continue
            qi = np.concatenate(qs)
            ci = np.concatenate(cs)
            sc = np.concatenate(ss)
            keep = q_ids[qi] != ci
            qi, ci, sc = _dedupe_pairs(qi[keep], ci[keep], sc[keep])
            qi, ci, sc = _group_topk(qi, ci, sc, k)
            yield _emit(q_ids, qi, ci, sc)

    cand = corpus.select(id_col, vec_col).mapInPandas(kern, _PAIR_SCHEMA)
    return _rank_topk(cand, k)


def cosine_pairs_lsh_arrow(corpus: DataFrame, threshold: float,
                           num_planes: int = 4, num_tables: int = 16,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           seed: int = 42) -> DataFrame:
    """EXT embedding near-dup, Arrow-vectorized scale path: the same
    sign-bucket codes as ``similarity.lsh_bucketed_topk``, self-joined
    on (table, bucket) — the one unavoidable shuffle; signatures come
    from one matmul per batch and the candidate verification is a
    rowwise-einsum kernel.  Output contract: (id_a < id_b, cosine >=
    threshold) on LSH candidates — approximate by recall misses,
    precision 1.0 (every candidate is exactly verified)."""
    spark = corpus.sparkSession
    head = corpus.select(vec_col).first()
    if head is None:
        raise ValueError("ann_arrow: empty corpus")
    d = len(head[0])
    H = hyperplane_matrix(spark, d, num_planes, num_tables, seed)

    # Candidates join on CODES ONLY (16 bytes/row through the band
    # self-join and the pair dedup) — the vectors are fetched by id
    # AFTER dedup, so per-pair payload never rides the widest shuffle.
    # First cut carried (vec_a, vec_b) through the join: ~1 KB/row,
    # measured 28 s at sf0.1 vs 5 s for this shape.
    code_schema = "id long, tbl int, bucket long"

    def code_kern(batches):
        import pandas as pd
        for pdf in batches:
            X = _mat(pdf[vec_col])
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            codes = _bucket_codes(X, H)
            b, T = codes.shape
            yield pd.DataFrame({
                "id": np.repeat(ids, T),
                "tbl": np.tile(np.arange(T, dtype=np.int32), b),
                "bucket": codes.ravel(),
            })

    coded = corpus.select(id_col, vec_col).mapInPandas(
        code_kern, code_schema)
    a = coded.select(F.col("tbl"), F.col("bucket"),
                     F.col("id").alias("id_a"))
    b = coded.select(F.col("tbl"), F.col("bucket"),
                     F.col("id").alias("id_b"))
    pair_ids = (a.join(b, ["tbl", "bucket"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .dropDuplicates(["id_a", "id_b"]))
    va = corpus.select(F.col(id_col).alias("id_a"),
                       F.col(vec_col).alias("vec_a"))
    vb = corpus.select(F.col(id_col).alias("id_b"),
                       F.col(vec_col).alias("vec_b"))
    cand = (pair_ids.join(va, "id_a").join(vb, "id_b")
            .select("id_a", "id_b", "vec_a", "vec_b"))

    out_schema = "id_a long, id_b long, cosine double"

    def score_kern(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            A = _mat(pdf["vec_a"])
            B = _mat(pdf["vec_b"])
            cos = (np.einsum("ij,ij->i", A, B)
                   / (np.linalg.norm(A, axis=1)
                      * np.linalg.norm(B, axis=1)))
            keep = cos >= threshold
            yield pd.DataFrame({
                "id_a": pdf["id_a"].to_numpy(dtype=np.int64)[keep],
                "id_b": pdf["id_b"].to_numpy(dtype=np.int64)[keep],
                "cosine": cos[keep]})

    return cand.mapInPandas(score_kern, out_schema)


# ----------------------------------------------------------------- PQ

def _pq_encode_np(X: np.ndarray, CB: np.ndarray):
    """(b, d) -> codes (b, m) int64 0-based + recon sq-norm (b,).
    Per subspace: argmin ||sub - cw||^2 via the expanded form
    (sq - 2 dot), which avoids materializing the difference."""
    m, ksub, dsub = CB.shape
    b = X.shape[0]
    codes = np.empty((b, m), dtype=np.int64)
    recon_sq = np.zeros(b)
    for s in range(m):
        sub = X[:, s * dsub:(s + 1) * dsub]
        sq = np.einsum("kd,kd->k", CB[s], CB[s])
        D = sq[None, :] - 2.0 * (sub @ CB[s].T)
        c = np.argmin(D, axis=1)
        codes[:, s] = c
        recon_sq += sq[c]
    return codes, recon_sq


def _pq_codebooks_arrow(corpus: DataFrame, m: int, ksub: int,
                        iters: int, id_col: str,
                        vec_col: str) -> np.ndarray:
    """Deterministic PQ training: the seeds are the ``ksub`` corpus
    vectors with the smallest ``xxhash64(id)`` split into sub-vectors,
    refined by ``iters`` Lloyd steps as numpy partial sums.
    Returns (m, ksub, dsub)."""
    seeds = (corpus.orderBy(F.xxhash64(F.col(id_col)))
             .limit(ksub).select(vec_col).collect())
    if not seeds:
        raise ValueError("pq_arrow: empty corpus")
    d = len(seeds[0][0])
    if d % m:
        raise ValueError(f"pq_arrow: dim {d} not divisible by m={m}")
    dsub = d // m
    CB = np.array([[list(r[0][s * dsub:(s + 1) * dsub]) for r in seeds]
                   for s in range(m)], dtype=np.float64)

    import pandas as pd
    schema = "s int, code int, n long, sum array<double>"
    for _ in range(iters):
        CBc = CB.copy()

        def kern(batches, _CB=CBc):
            acc_n = np.zeros((m, ksub), dtype=np.int64)
            acc_s = np.zeros((m, ksub, dsub))
            for pdf in batches:
                X = _mat(pdf[vec_col])
                codes, _ = _pq_encode_np(X, _CB)
                for s in range(m):
                    sub = X[:, s * dsub:(s + 1) * dsub]
                    np.add.at(acc_n[s], codes[:, s], 1)
                    np.add.at(acc_s[s], codes[:, s], sub)
            nz = np.argwhere(acc_n > 0)
            if len(nz):
                yield pd.DataFrame({
                    "s": nz[:, 0].astype(np.int32),
                    "code": nz[:, 1].astype(np.int32),
                    "n": acc_n[nz[:, 0], nz[:, 1]],
                    "sum": [acc_s[i, j] for i, j in nz]})

        rows = corpus.select(vec_col).mapInPandas(kern, schema).collect()
        n = np.zeros((m, ksub))
        s_acc = np.zeros((m, ksub, dsub))
        for r in rows:
            n[r.s, r.code] += r.n
            s_acc[r.s, r.code] += np.array(r.sum)
        nz = n > 0
        CB[nz] = s_acc[nz] / n[nz][:, None]       # empty code keeps seed
    return CB


def pq_topk_arrow(queries: DataFrame, corpus: DataFrame, k: int,
                  m: int = 32, ksub: int = 16, train_iters: int = 2,
                  rerank: int | None = None,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  codebooks: np.ndarray | None = None) -> DataFrame:
    """PQ/ADC top-k (Jegou et al., TPAMI 2011), Arrow-vectorized:
    encoding is m small matmuls per batch, ADC scoring is a gathered
    LUT sum, and the optional exact re-rank of the per-query ADC
    top-``rerank`` shortlist computes the true cosine IN the kernel
    (the raw batch is still in memory) — no second corpus pass.
    Pass ``codebooks`` to reuse a trained quantizer (build-once).

    The ADC gather-sum accumulates in float64, bit-identical to the
    unblocked per-subspace loop.  Codes are gathered through a uint8
    view when ``ksub <= 256`` — index dtype only."""
    CB = (codebooks if codebooks is not None
          else _pq_codebooks_arrow(corpus, m, ksub, train_iters,
                                   id_col, vec_col))
    m_sub, n_codes, dsub = CB.shape
    q_ids, Q = _collect_queries(queries, id_col, vec_col)
    Qn = np.linalg.norm(Q, axis=1)
    # per-query LUT: (n_q, m_sub, ksub) dot(q_sub, codeword)
    LUT = np.stack([Q[:, s * dsub:(s + 1) * dsub] @ CB[s].T
                    for s in range(m_sub)], axis=1)
    code_dt = np.uint8 if n_codes <= 256 else np.int64
    shortlist = max(rerank, k) if rerank is not None else k

    schema = ("query_id long, corpus_id long, adc double, "
              "cosine double")

    def kern(batches):
        import pandas as pd
        for pdf in batches:
            X = _mat(pdf[vec_col])
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            codes, recon_sq = _pq_encode_np(X, CB)
            recon_n = np.sqrt(recon_sq)
            recon_n[recon_n == 0] = 1.0
            nq = len(q_ids)
            # accumulate in (nq, b) orientation, cache-blocked: the
            # naive loop streams the full (nq, b) matrix through
            # memory once PER SUBSPACE (m_sub passes — measured 6.7 s
            # per 10k batch at nq=1000); a ~2 MB column slab stays
            # L2-resident across all subspace additions (0.84 s,
            # 8x).  Within each element the additions still run in
            # ascending-s order, so the result is BIT-IDENTICAL to
            # the unblocked loop (asserted in tests/test_ann_arrow).
            bsz = X.shape[0]
            adc = np.empty((nq, bsz))
            luts = [np.ascontiguousarray(LUT[:, s, :])
                    for s in range(m_sub)]
            cod = codes.astype(code_dt)
            chunk = max(1, (1 << 21) // (nq * adc.itemsize))
            for j0 in range(0, bsz, chunk):
                j1 = min(j0 + chunk, bsz)
                slab = np.zeros((nq, j1 - j0))
                cj = cod[j0:j1]
                for s in range(m_sub):
                    slab += luts[s][:, cj[:, s]]
                adc[:, j0:j1] = slab
            adc /= np.outer(Qn, recon_n)
            adc[q_ids[:, None] == ids[None, :]] = -np.inf   # self
            qi, rows, sc = _matrix_topk(adc, ids, shortlist)
            Xs = X[rows]
            Xsn = np.linalg.norm(Xs, axis=1)
            Xsn[Xsn == 0] = 1.0
            cos = (np.einsum("ij,ij->i", Xs, Q[qi])
                   / (Xsn * Qn[qi]))
            yield pd.DataFrame({"query_id": q_ids[qi],
                                "corpus_id": ids[rows],
                                "adc": sc, "cosine": cos})

    cand = corpus.select(id_col, vec_col).mapInPandas(kern, schema)
    if rerank is None:
        return _rank_topk(cand.select("query_id", "corpus_id",
                                      F.col("adc").alias("cosine")), k)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("corpus_id"))
    short = (cand.withColumn("r", F.row_number().over(w_adc))
             .filter(F.col("r") <= shortlist)
             .select("query_id", "corpus_id", "cosine"))
    return _rank_topk(short, k)
