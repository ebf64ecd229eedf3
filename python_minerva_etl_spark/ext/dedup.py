"""Deduplication operators (EXT-DEDUP-*).

Five dedup families, each with the exact/oracle-checkable form AND the
100 TB scale path behind the same API:

- exact: content-hash groupBy — embarrassingly parallel at any scale.
- near (token Jaccard): exact pairwise via token inverted index
  (small-n, oracle-checkable) / MinHash+LSH banding (scale path: the
  candidate set shrinks from O(n²) to near-linear; only candidates get
  the exact Jaccard verification pass).
- SimHash: 64-bit fingerprints via token-hash bit voting; near-dups =
  fingerprints within Hamming distance k, found by pigeonhole band
  join.  The xxhash64 fingerprint is the scale path (rows-only
  check); the md5 fingerprint runs the same band code and is
  oracle-verified, since DuckDB rebuilds md5 bit votes exactly.
- n-gram Jaccard: character-shingle variant of near-dup.
- embedding cosine: near-dup by vector similarity (exact pairwise
  small-n; LSH/IVF partition pruning at scale — see similarity.py).

All hashing uses Spark built-ins (xxhash64/md5) — JVM-side, no Python
UDFs anywhere in the hot path.

The band-bucket candidate stage is written once: every SimHash, MinHash
and incremental surface builds ``(doc, band, bucket, ...)`` rows
(:func:`simhash_bands`, :func:`minhash_bands`) and feeds them either to
the full ``(band, bucket)`` self-join (:func:`bucket_pairs`) or to the
id-ordered ``lead()`` chain (:func:`bucket_chain`); each caller applies
its own filter and dedup to the candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def tokens_col(text_col: str = "text", lower: bool = True) -> F.Column:
    c = F.col(text_col)
    if lower:
        c = F.lower(c)
    return F.split(c, " ")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """EXT-DEDUP-EXACT: group by content hash, keep the minimum id.
    One hash-agg shuffle on the digest; at 100 TB pre-partition the
    write by digest prefix so reruns are shuffle-free."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def _cap_pairs(pairs: DataFrame, max_pairs_per_doc: int | None,
               *order_cols) -> DataFrame:
    """OUTPUT GUARD for the pair-emitting dedup surfaces: keep at
    most ``max_pairs_per_doc`` pairs per ``doc_a``, strongest first
    (``order_cols`` ranks them; ``doc_b`` is always the last
    tiebreak, so the kept set is deterministic).

    Pair output is quadratic in clique size BY DEFINITION — a
    hostile corpus of deep cliques can emit tens of millions of
    correct pairs (the 100x probe measured 22.8M).  The cap bounds
    the OUTPUT at ``n_docs * K`` rows — linear — while keeping each
    doc's strongest matches, which is what a keep/drop decision
    consumes.  When the full duplicate structure matters, use the
    O(n) cluster surface (``ext/clusters.py``: one canonical row per
    clique) instead of enumerating pairs.

    One window shuffle partitioned by ``doc_a`` over the ALREADY
    FILTERED pair set — never over candidates — so the guard costs
    one exchange of the rows it is about to discard, not a second
    similarity pass."""
    if max_pairs_per_doc is None:
        return pairs
    k = int(max_pairs_per_doc)
    if k < 1:
        raise ValueError(
            f"max_pairs_per_doc must be >= 1, got {max_pairs_per_doc!r}")
    w = Window.partitionBy("doc_a").orderBy(*order_cols,
                                            F.asc("doc_b"))
    return (pairs.withColumn("__pr", F.row_number().over(w))
            .filter(F.col("__pr") <= k).drop("__pr"))


def _rarity_prefix(toks: DataFrame, sizes: DataFrame,
                   threshold: float) -> DataFrame:
    """Each doc's first ``n_tok - ceil(t * n_tok) + 1`` tokens under
    the global rarity order (ascending document frequency, token as
    tiebreak).  Pigeonhole: if two docs share >= ceil(t*n) tokens,
    ANY subset of size n - ceil(t*n) + 1 of either doc contains at
    least one shared token — so a join on prefix tokens is a LOSSLESS
    candidate generator for both Jaccard (both sides take prefixes)
    and containment (the contained side takes the prefix, the host
    side keeps all tokens).

    ``ceil`` is computed as ``ceil(t*n - 1e-9)``: binary floating
    point can round t*n UP past the true product (0.8 * 5 ->
    4.000000000000001, ceil 5 instead of 4), which would SHRINK the
    prefix below the lossless bound; the epsilon can only enlarge the
    prefix (more candidates, never a missed pair)."""
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc").orderBy("df", "tok")
    ranked = (toks.join(dfreq, "tok")
              .select("doc", "tok", F.row_number().over(w).alias("r"))
              .join(F.broadcast(sizes), "doc"))
    return ranked.filter(
        F.col("r") <= F.col("n_tok")
        - F.ceil(F.lit(threshold) * F.col("n_tok") - F.lit(1e-9)) + 1)


def _doc_token_sets(toks: DataFrame) -> DataFrame:
    """(doc, tok) with per-doc-distinct tokens → one row per doc with
    the token set as a sorted array plus its size.  The array is the
    doc's distinct-token set — bounded by document size, so shuffling
    it is no heavier than shuffling the document text itself."""
    return toks.groupBy("doc").agg(
        F.sort_array(F.collect_list("tok")).alias("tokset"),
        F.count("*").alias("n_tok"))


def _verify_common(cand: DataFrame, docsets: DataFrame) -> DataFrame:
    """Attach the TRUE intersection size to candidate (doc_a, doc_b)
    pairs: two doc-keyed joins against the per-doc token-set arrays,
    then one JVM-side ``array_intersect`` per pair.

    This replaces the explode-join-groupBy recount (candidates ×
    tokens-per-doc rows through a shuffle) with |cand| rows carrying
    array payloads — O(|A|+|B|) hash-set intersection per pair inside
    whole-stage codegen, no row explosion.  Measured on the sf0.1
    documents corpus (5k docs, 377-gram vocabulary, 4.8M candidates):
    93 s → ~4 s for the recount phase."""
    return (
        cand.join(docsets.select(F.col("doc").alias("doc_a"),
                                 F.col("tokset").alias("__ts_a"),
                                 F.col("n_tok").alias("n_a")), "doc_a")
        .join(docsets.select(F.col("doc").alias("doc_b"),
                             F.col("tokset").alias("__ts_b"),
                             F.col("n_tok").alias("n_b")), "doc_b")
        .select("doc_a", "doc_b", "n_a", "n_b",
                F.size(F.array_intersect("__ts_a", "__ts_b"))
                .alias("n_common")))


def _jaccard_pairs_prefix(toks: DataFrame,
                          threshold: float) -> DataFrame:
    """Exact set-similarity self-join with PREFIX FILTERING (Bayardo,
    Ma & Srikant, WWW'07 "Scaling Up All Pairs Similarity Search";
    Chaudhuri et al.'s SSJoin prefix filter) plus PPJoin's length and
    positional filters (Xiao, Wang, Lin & Yu, WWW'08 "Efficient
    Similarity Joins for Near Duplicate Detection"): instead of
    joining the full inverted index against itself — where one shared
    stopword or hot shingle produces a quadratic bucket — each
    document joins only on its PREFIX tokens under a global rarity
    order, and each prefix match must also pass size and position
    bounds before it can become a candidate.

    With tokens sorted by ascending document frequency, a document of
    ``n`` distinct tokens keeps a prefix of ``n - ceil(t*n) + 1``:
    if two documents share no prefix token, their overlap is confined
    to suffixes of size ``ceil(t*n)-1 < t*n <= t*|union|-required
    overlap``, so Jaccard < t — the filter is LOSSLESS.  Hot tokens
    (high df) sort last and fall out of most prefixes, so the largest
    join buckets are precisely the ones that disappear.

    The two extra per-match filters are also lossless:

    - length: J(A,B) <= min/max of the sizes, so J >= t forces
      ``n_b >= t*n_a`` and ``n_a >= t*n_b``.
    - positional: J >= t needs overlap ``o >= ceil(t*(n_a+n_b)/(1+t))``
      (from o/(n_a+n_b-o) >= t).  For the FIRST shared token under
      the global rarity order — which the prefix theorem guarantees
      sits inside both prefixes for every qualifying pair — nothing
      before ranks (r_a, r_b) is shared, so
      ``o <= 1 + min(n_a - r_a, n_b - r_b)``.  Any qualifying pair
      therefore keeps at least its first-shared-token match row.

    These matter precisely where plain prefix filtering collapses: a
    SMALL token universe (short character n-grams, tag sets) makes
    every "rare" token still shared by many documents, and without
    the per-match bounds the candidate set degrades toward all-pairs
    (measured: 4.8M of 12.5M possible pairs on the sf0.1 documents
    corpus with its 377 distinct 3-grams; the filters cut that ~30×).

    Two-phase plan: filtered prefix join builds the candidate pair
    set, then one doc-keyed array join computes the TRUE intersection
    for candidates only (:func:`_verify_common`) — output identical
    to the naive quadratic join (locked by tests/test_dedup.py).

    ``toks`` must be (doc, tok) with per-doc-distinct tokens.
    """
    t = float(threshold)
    sizes = toks.groupBy("doc").agg(F.count("*").alias("n_tok"))
    prefix = _rarity_prefix(toks, sizes, threshold)
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    na, nb = F.col("pa.n_tok"), F.col("pb.n_tok")
    # required overlap; the 1e-9 slack only ever LOWERS the bound
    # (more candidates kept, never a missed pair) — same FP guard as
    # _rarity_prefix
    req = F.ceil(F.lit(t / (1.0 + t)) * (na + nb) - F.lit(1e-9))
    ubound = F.lit(1) + F.least(na - F.col("pa.r"), nb - F.col("pb.r"))
    cand = (pa.join(pb, (F.col("pa.tok") == F.col("pb.tok"))
                    & (F.col("pa.doc") < F.col("pb.doc"))
                    & (nb >= F.lit(t) * na - F.lit(1e-9))
                    & (na >= F.lit(t) * nb - F.lit(1e-9)))
            .filter(ubound >= req)
            .select(F.col("pa.doc").alias("doc_a"),
                    F.col("pb.doc").alias("doc_b"))
            .distinct())
    jac = (F.col("n_common").cast("double")
           / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"))
    return (_verify_common(cand, _doc_token_sets(toks))
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def near_dup_pairs_exact(docs: DataFrame, threshold: float,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         max_pairs_per_doc: int | None = None
                         ) -> DataFrame:
    """EXT-DEDUP-NEAR, exact form: token-set Jaccard >= threshold for
    all id_a < id_b pairs.  Candidate generation is the LOSSLESS
    prefix filter (see :func:`_jaccard_pairs_prefix`) — never a cross
    join, and shared stopwords no longer explode the self-join bucket
    the way a raw inverted-index join does.  ``max_pairs_per_doc``
    bounds the emitted pairs per doc (strongest Jaccard first) — the
    output guard against clique-heavy corpora (:func:`_cap_pairs`).
    """
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokens_col(text_col))).alias("tok"))
    return _cap_pairs(_jaccard_pairs_prefix(toks, threshold),
                      max_pairs_per_doc, F.desc("jaccard"))


# ------------------------------------------------ band-bucket candidates

def bucket_pairs(buckets: DataFrame, *cols: str) -> DataFrame:
    """Full candidate stage over ``(doc, band, bucket, *cols)`` rows:
    the ``(band, bucket)`` self-join, one row per doc pair with
    ``doc_a < doc_b`` per band the pair shares.  Output: ``doc_a``,
    ``doc_b``, ``band`` and each of ``cols`` as ``<col>_a`` /
    ``<col>_b``.  Exact, and O(sum of bucket sizes²) — a deep clique
    is quadratic here; :func:`bucket_chain` is the bounded form."""
    a, b = buckets.alias("a"), buckets.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc") < F.col("b.doc")))
            .select(F.col("a.doc").alias("doc_a"),
                    F.col("b.doc").alias("doc_b"),
                    F.col("a.band").alias("band"),
                    *[F.col(f"a.{c}").alias(f"{c}_a") for c in cols],
                    *[F.col(f"b.{c}").alias(f"{c}_b") for c in cols]))


def bucket_chain(buckets: DataFrame, depth: int, *cols: str) -> DataFrame:
    """Bounded candidate stage over ``(doc, band, bucket, *cols)``
    rows: inside each ``(band, bucket)``, docs sort by id and each
    pairs with its next ``depth`` successors via ``lead()`` windows
    (the sorted-neighborhood method, Hernandez & Stolfo's
    merge/purge) — no join, so candidates are O(n x depth x bands) on
    ANY clique structure.  Same output columns as
    :func:`bucket_pairs` (``doc_a < doc_b``), a subset of its rows."""
    if depth < 1:
        raise ValueError("neighborhood must be >= 1")
    w = Window.partitionBy("band", "bucket").orderBy("doc")
    nbrs = buckets.select(
        "doc", *cols, "band",
        F.array(*[F.struct(
            F.lead("doc", s).over(w).alias("doc_b"),
            *[F.lead(c, s).over(w).alias(f"{c}_b") for c in cols])
            for s in range(1, depth + 1)]).alias("nbrs"))
    return (nbrs.select(F.col("doc").alias("doc_a"),
                        *[F.col(c).alias(f"{c}_a") for c in cols], "band",
                        F.explode("nbrs").alias("nb"))
            .filter(F.col("nb.doc_b").isNotNull())
            .select("doc_a", "nb.doc_b", "band",
                    *[f"{c}_a" for c in cols],
                    *[f"nb.{c}_b" for c in cols]))


# ---------------------------------------------------------------- MinHash+LSH

def minhash_signatures(docs: DataFrame, num_hashes: int = 64,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-doc MinHash signature: for seed i, min over tokens of
    xxhash64(token, seed=i).  Deterministic (fixed seeds), fully
    JVM-side: explode → groupBy(doc) with an array of min-aggs.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokens_col(text_col))).alias("tok"))
    mins = [F.min(F.xxhash64("tok", F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)]
    sig = toks.groupBy("doc").agg(*mins)
    return sig.select("doc", F.array(*[f"h{i}" for i in range(num_hashes)])
                      .alias("signature"))


def minhash_bands(sig: DataFrame, num_hashes: int,
                  bands: int) -> DataFrame:
    """(doc, signature, band, bucket) from :func:`minhash_signatures`
    output: band ``bi`` is the xxhash64 of its ``num_hashes // bands``
    signature rows.  Derived on the fly (cheap, scan-local), so a
    persisted signature store never goes stale against band-count
    changes."""
    rows_per_band = num_hashes // bands
    return (sig.select(
        "doc", "signature",
        F.explode(F.array(*[
            F.struct(
                F.lit(bi).alias("band"),
                F.xxhash64(F.concat_ws(
                    ",", *[F.element_at("signature",
                                        bi * rows_per_band + ri + 1)
                           .cast("string")
                           for ri in range(rows_per_band)])).alias("bucket"))
            for bi in range(bands)])).alias("bb"))
        .select("doc", "signature", "bb.band", "bb.bucket"))


def minhash_lsh_candidates(docs: DataFrame, num_hashes: int = 64,
                           bands: int = 16, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """LSH banding: split signatures into ``bands`` rows-per-band
    groups, bucket-join on (band, band-hash).  Candidate pairs are
    those agreeing on >=1 band — near-linear at 100 TB vs O(n²)
    pairwise.  Verify candidates with near_dup_pairs_exact on the
    candidate subset (two-phase: cheap recall, exact precision)."""
    sig = minhash_signatures(docs, num_hashes, id_col, text_col)
    return (bucket_pairs(minhash_bands(sig, num_hashes, bands))
            .select("doc_a", "doc_b").distinct())


def minhash_lsh_neighbors(docs: DataFrame, num_hashes: int = 64,
                          bands: int = 16, neighborhood: int = 4,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """CANDIDATE-BOUNDED LSH: sorted-neighborhood within each (band,
    bucket) instead of the full within-bucket self-join — the MinHash
    counterpart of :func:`simhash_near_neighbors` (see its docstring
    for the clique-cost argument; same 100x evidence in
    SCALE_r11_100x.json).  Docs sort by id inside each bucket and
    pair with their next ``neighborhood`` successors
    (:func:`bucket_chain`) — no join — so candidates are
    O(n x W x bands) on ANY clique structure.  Exact-duplicate
    cliques share one signature (same bucket in every band), so the
    id-sorted chain connects them for the components/keep-canonical
    consumers; loosely-connected near-cliques trade recall, tunable
    via ``neighborhood``."""
    sig = minhash_signatures(docs, num_hashes, id_col, text_col)
    return (bucket_chain(minhash_bands(sig, num_hashes, bands),
                         neighborhood)
            .select("doc_a", "doc_b").distinct())


def near_dup_pairs_lsh(docs: DataFrame, threshold: float,
                       num_hashes: int = 64, bands: int = 8,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       max_pairs_per_doc: int | None = None
                       ) -> DataFrame:
    """EXT-DEDUP-NEAR, complete scale pipeline: MinHash+LSH candidate
    generation (near-linear) followed by exact Jaccard verification on
    the candidates only.  Same output contract as
    ``near_dup_pairs_exact`` minus LSH recall misses (recall measured
    in tests/test_dedup.py)."""
    cand = minhash_lsh_candidates(docs, num_hashes, bands, id_col, text_col)
    return _cap_pairs(_verify_jaccard(docs, cand, threshold,
                                      id_col, text_col),
                      max_pairs_per_doc, F.desc("jaccard"))


def _verify_jaccard(docs: DataFrame, cand: DataFrame, threshold: float,
                    id_col: str, text_col: str) -> DataFrame:
    """Exact token-Jaccard verification of a (doc_a, doc_b) candidate
    set — cost linear in |candidates|."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(tokens_col(text_col)).alias("toks"))
    a = toks.select(F.col("doc").alias("doc_a"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col("doc").alias("doc_b"), F.col("toks").alias("toks_b"))
    n_common = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = (n_common.cast("double")
           / (F.size("toks_a") + F.size("toks_b") - n_common).cast("double"))
    return (cand.join(a, "doc_a").join(b, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def near_dup_pairs_lsh_neighbors(docs: DataFrame, threshold: float,
                                 num_hashes: int = 64, bands: int = 8,
                                 neighborhood: int = 4,
                                 id_col: str = "doc_id",
                                 text_col: str = "text") -> DataFrame:
    """The candidate-bounded two-phase pipeline: sorted-neighborhood
    LSH candidates (:func:`minhash_lsh_neighbors`) + exact Jaccard
    verify.  Every emitted pair is a true >= threshold pair
    (precision 1 vs the exact surface); recall trades the full pair
    set for an O(n x W x bands) candidate bound that no clique
    structure can break."""
    cand = minhash_lsh_neighbors(docs, num_hashes, bands, neighborhood,
                                 id_col, text_col)
    return _verify_jaccard(docs, cand, threshold, id_col, text_col)


# ------------------------------------------------------------------- SimHash

def simhash64(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", max_tokens: int = 32767,
              parallelism: int | None = None) -> DataFrame:
    """64-bit SimHash: per token, xxhash64; per bit, vote ±occurrence
    across tokens; fingerprint bit = sign of the vote.

    Plan shape (one narrow explode + two hash-agg exchanges, all
    inside whole-stage codegen — measured faster than scan-local
    ``aggregate()`` folds, which evaluate interpreted):

    1. slice the token array to ``max_tokens`` *before* exploding —
       this is the lane-capacity guard: a lane's vote count is
       bounded by the per-doc token cap, so a 16-bit lane can never
       carry into its neighbor, and the cap is 2^15 - 1 so even an
       adversarial doc (every token voting the top lane at offset
       48) stays below the signed-int64 ceiling under ANSI mode.
       Longer documents are fingerprinted on their first 32767
       tokens (deterministic; split such corpora upstream with
       text_chunk if full coverage matters);
    2. collapse repeated tokens: ``groupBy(doc, token_hash)`` makes
       the vote stage run over |doc × vocab|, not |doc × tokens|, on
       Zipf-distributed text;
    3. positive votes for bits 4j..4j+3 are packed into 16-bit lanes
       of one bigint sum (16 sums + 1 total instead of 64), and
       bit_i = (2 * lane_i > total) — identical to the ±1-vote sign.

    Every unrolled expression is built as ONE F.expr string — the
    Column-operator construction costs thousands of py4j round-trips
    (~3 s of pure driver time per call); parsing the same tree
    JVM-side is milliseconds.

    ``parallelism`` hash-repartitions the exploded tokens when the
    source scan is narrower than the core count (single-file
    fixtures); leave ``None`` when the scan is already wide (the
    100 TB case — the agg exchanges parallelize regardless).
    """
    if not 0 < max_tokens < 1 << 15:
        raise ValueError(
            "max_tokens must keep packed lane sums below 2^63 (< 2^15)")
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"),
        F.expr(f"explode(slice(split(lower(`{text_col}`), ' '), "
               f"1, {max_tokens}))").alias("tok")
    ).select("doc", F.expr("xxhash64(tok)").alias("th"))
    if parallelism:
        toks = toks.repartition(parallelism, "doc")
    weighted = toks.groupBy("doc", "th").agg(F.count("*").alias("cnt"))

    def lane_terms(j: int) -> str:
        return " + ".join(
            f"shiftleft(shiftright(th, {4 * j + lane}) & 1, {16 * lane})"
            for lane in range(4))

    packed = [
        F.expr(f"sum(cnt * ({lane_terms(j)}))").alias(f"p{j}")
        for j in range(16)]
    agg = weighted.groupBy("doc").agg(
        *packed, F.expr("sum(cnt)").alias("total"))
    # fingerprint assembly as a compact runtime fold over the 16
    # packed columns rather than 64 unrolled CASE terms: this stage
    # runs once per *document* (post-agg), so interpreted HOF cost is
    # negligible, while the smaller generated class cuts JIT work and
    # codegen-cache pressure (the measured recompile tax when many
    # plans share one JVM)
    ps = ", ".join(f"p{j}" for j in range(16))
    lanes = " | ".join(
        f"shiftleft(CAST((shiftright(s.p, {16 * lane}) & 65535) * 2 > total"
        f" AS BIGINT), s.j * 4 + {lane})"
        for lane in range(4))
    fp = (f"aggregate(zip_with(array({ps}), sequence(0, 15), "
          f"(p, j) -> struct(p, j)), CAST(0 AS BIGINT), "
          f"(acc, s) -> acc ^ ({lanes}))")
    return agg.select("doc", F.expr(fp).alias("simhash"))


def simhash_bands(fp: DataFrame, max_hamming: int) -> DataFrame:
    """(doc, simhash, band, bucket) from a ``(doc, simhash)`` frame of
    64-bit fingerprints: the pigeonhole split into ``max_hamming + 1``
    bands of ``64 // bands`` bits, band ``bi`` starting at bit
    ``bi * width``.  Any pair within Hamming distance k agrees exactly
    on >= 1 band, so the band self-join (:func:`bucket_pairs`) finds
    every pair with hamming <= k."""
    bands = max_hamming + 1
    width = 64 // bands
    mask = (1 << width) - 1
    return fp.select("doc", "simhash", F.expr(
        f"explode(transform(sequence(0, {bands - 1}), bi -> "
        f"struct(bi AS band, shiftright(simhash, bi * {width}) & {mask}"
        f" AS bucket)))").alias("bp")
    ).select("doc", "simhash", "bp.band", "bp.bucket")


def _simhash_pairs(fp: DataFrame, max_hamming: int,
                   max_pairs_per_doc: int | None) -> DataFrame:
    """(doc_a, doc_b, hamming) for every fingerprint pair of ``fp``
    within ``max_hamming``, from the band self-join."""
    width = 64 // (max_hamming + 1)
    mask = (1 << width) - 1
    joined = bucket_pairs(simhash_bands(fp, max_hamming), "simhash")
    # a pair agreeing on several bands would hit once per band; emit it
    # only from the FIRST agreeing band — a scan-local filter, so no
    # dedup shuffle at all.  Written as a plain conjunction — "∀
    # earlier band k < band: pieces differ" (vacuously true for band
    # 0) — because a filter(sequence(...)) HOF is CodegenFallback and
    # would run INTERPRETED once per candidate pair, tens of millions
    # of evaluations at the 100x fixture; the conjunction is bands-1
    # integer compares inside whole-stage codegen.
    first_band_only = F.expr(" AND ".join(
        f"(band <= {k} OR (shiftright(simhash_a, {k * width}) & {mask})"
        f" != (shiftright(simhash_b, {k * width}) & {mask}))"
        for k in range(max_hamming)) or "true")
    hamming = F.bit_count(
        F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).cast("bigint")
    return _cap_pairs(
        joined.filter(first_band_only)
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming),
        max_pairs_per_doc, F.asc("hamming"))


def _simhash_neighbors(fp: DataFrame, max_hamming: int,
                       neighborhood: int) -> DataFrame:
    """(doc_a, doc_b, hamming) from the id-ordered band chains of
    ``fp``, each pair once with its minimum hamming."""
    hamming = F.bit_count(
        F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).cast("bigint")
    return (bucket_chain(simhash_bands(fp, max_hamming), neighborhood,
                         "simhash")
            .select("doc_a", "doc_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            # a pair adjacent in several bands surfaces once per
            # band; the output is already candidate-bounded, so one
            # small exchange dedups it exactly (the scan-local
            # first-band trick would DROP a pair whose earlier
            # agreeing band didn't have it within the neighborhood)
            .groupBy("doc_a", "doc_b").agg(F.min("hamming")
                                           .alias("hamming")))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       parallelism: int | None = None,
                       max_pairs_per_doc: int | None = None
                       ) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= k, via the
    pigeonhole band trick: split 64 bits into k+1 bands; any pair
    within distance k agrees exactly on >=1 band → equi-join per band,
    then exact popcount filter.  Near-linear candidate generation."""
    return _simhash_pairs(
        simhash64(docs, id_col, text_col, parallelism=parallelism),
        max_hamming, max_pairs_per_doc)


def simhash_near_neighbors(docs: DataFrame, max_hamming: int = 3,
                           neighborhood: int = 4,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           parallelism: int | None = None) -> DataFrame:
    """CANDIDATE-BOUNDED simhash near-dup pairs: sorted-neighborhood
    within each pigeonhole band bucket instead of the full
    within-bucket self-join.

    :func:`simhash_near_pairs` + :func:`_cap_pairs` bounds the
    OUTPUT, but a clique of C near-copies still costs O(C^2) inside
    the band join before anything is capped — measured on the 100x
    fixture (per-replica near-copy cliques): 22.8M candidate pairs,
    ~160 s capped or not.  For the decision the pairs feed —
    keep/drop via connected components — the full clique edge set is
    redundant: any spanning structure yields the same components.
    So within each (band, bucket), docs are SORTED by id and each
    doc pairs with its next ``neighborhood`` successors only
    (:func:`bucket_chain`) — ``lead()`` windows, no self-join
    anywhere — and candidates are O(n x neighborhood x bands) on ANY
    clique structure.

    Connectivity: an exact-duplicate clique shares one fingerprint,
    so all members land in the same bucket in every band and the
    id-sorted chain connects them (neighborhood >= 1 suffices).  For
    near-copy cliques the chain holds whenever consecutive-by-id
    members are within ``max_hamming`` (replica corpora; locked by
    test).  Pathological orderings can split a component — this is
    the standard sorted-neighborhood trade (Hernandez & Stolfo's
    merge/purge), bought for a hard candidate bound; raise
    ``neighborhood`` to harden it.

    Output: (doc_a, doc_b, hamming), doc_a < doc_b, each pair once.
    Every emitted pair passes the exact popcount filter, so this is
    a SUBSET of :func:`simhash_near_pairs` — precision 1 vs that
    surface, recall traded for the bound.
    """
    return _simhash_neighbors(
        simhash64(docs, id_col, text_col, parallelism=parallelism),
        max_hamming, neighborhood)


def simhash_md5(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Cross-engine 64-bit SimHash as TWO 32-bit halves ``(hi, lo)``:
    per token, the first 16 hex chars of md5 (bit b<32 from the
    second 8 chars, b>=32 from the first — pure hex-digit
    definition, no byte-order assumptions), per bit vote ±occurrence,
    fingerprint bit = vote > 0.

    Exists so the SimHash pipeline is ORACLE-VERIFIABLE: md5 is the
    one hash Spark and DuckDB compute identically, so a DuckDB query
    can rebuild these exact fingerprints and brute-force-check every
    emitted pair (`dedup_simhash_verified`).  The xxhash64 variant
    (:func:`simhash64`) stays the scale path — no hex parsing.
    Halves keep every shift of the vote assembly below bit 32, so no
    engine's signed-overflow rules are in play; the pair surfaces
    combine them with :func:`_md5_fingerprint`."""
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"),
        F.expr(f"explode(split(lower(`{text_col}`), ' '))")
        .alias("tok"))
    hashed = toks.select(
        "doc",
        F.expr("CAST(conv(substr(md5(tok), 1, 8), 16, 10) AS BIGINT)")
        .alias("h1"),
        F.expr("CAST(conv(substr(md5(tok), 9, 8), 16, 10) AS BIGINT)")
        .alias("h2"))
    weighted = hashed.groupBy("doc", "h1", "h2").agg(
        F.count("*").alias("cnt"))
    # 64 signed votes; per-half assembly, every shift < 32
    votes = [F.expr(
        f"sum(cnt * (2 * (shiftright("
        f"{'h2' if b < 32 else 'h1'}, {b if b < 32 else b - 32})"
        f" & 1) - 1))").alias(f"v{b}") for b in range(64)]
    agg = weighted.groupBy("doc").agg(*votes)
    lo = " + ".join(
        f"shiftleft(CAST(v{b} > 0 AS BIGINT), {b})" for b in range(32))
    hi = " + ".join(
        f"shiftleft(CAST(v{b} > 0 AS BIGINT), {b - 32})"
        for b in range(32, 64))
    return agg.select("doc", F.expr(hi).alias("hi"),
                      F.expr(lo).alias("lo"))


def _md5_fingerprint(docs: DataFrame, id_col: str,
                     text_col: str) -> DataFrame:
    """(doc, simhash): :func:`simhash_md5`'s halves as one 64-bit
    fingerprint, ``shiftleft(hi, 32) | lo``, so bit b of the md5
    SimHash is bit b of ``simhash`` and the xxhash band code runs on
    it unchanged.  Bit 63 lands in the sign bit; a bit shift never
    overflows, and the band masks and popcount treat it as any other
    bit."""
    return simhash_md5(docs, id_col, text_col).select(
        "doc", F.expr("shiftleft(hi, 32) | lo").alias("simhash"))


def simhash_md5_near_pairs(docs: DataFrame, max_hamming: int = 3,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           max_pairs_per_doc: int | None = None
                           ) -> DataFrame:
    """Oracle-verifiable SimHash near-dup pairs: the band self-join of
    :func:`simhash_near_pairs` on the md5 fingerprints
    (:func:`_md5_fingerprint`), 4 x 16-bit bands — recall is EXACTLY
    1 for hamming <= 3, not probabilistic — and the exact popcount
    filter.  Output (doc_a, doc_b, hamming) equals the brute-force
    all-pairs set, which a DuckDB oracle recomputes independently."""
    if max_hamming != 3:
        raise ValueError("verified variant is fixed at 4x16 banding "
                         "(max_hamming=3)")
    return _simhash_pairs(_md5_fingerprint(docs, id_col, text_col), 3,
                          max_pairs_per_doc)


def simhash_md5_near_neighbors(docs: DataFrame, neighborhood: int = 4,
                               id_col: str = "doc_id",
                               text_col: str = "text") -> DataFrame:
    """ORACLE-VERIFIABLE sorted-neighborhood SimHash: the chain of
    :func:`simhash_near_neighbors` on the md5 fingerprints
    (:func:`_md5_fingerprint`), so a DuckDB oracle can rebuild the
    fingerprints, the band buckets, the per-bucket id-ordered chains
    (rank-difference join ≡ the lead() windows here), and the
    popcount filter bit-for-bit.  Fixed 4 x 16-bit banding
    (hamming <= 3).  Output (doc_a, doc_b, hamming), each pair once
    with its min hamming across agreeing bands."""
    return _simhash_neighbors(_md5_fingerprint(docs, id_col, text_col), 3,
                              neighborhood)


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        max_pairs_per_doc: int | None = None
                        ) -> DataFrame:
    """Character-n-gram Jaccard near-dup (EXT n-gram family): shingle
    the text into distinct n-grams, then the same LOSSLESS
    prefix-filtered similarity join as token Jaccard
    (:func:`_jaccard_pairs_prefix`) — hot shingles sort to the end of
    the rarity order and drop out of the candidate join."""
    grams = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(F.expr(
            f"transform(sequence(1, greatest(length(text)-{n - 1}, 1)), "
            f"i -> substring(text, i, {n}))"))).alias("tok"))
    return _cap_pairs(_jaccard_pairs_prefix(grams, threshold),
                      max_pairs_per_doc, F.desc("jaccard"))


def span_dedup(docs: DataFrame, n: int = 8, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """EXT-DEDUP (span level): remove duplicated n-token spans across
    the corpus, keeping only the first occurrence (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    their suffix-array ExactSubstr dedup, re-expressed as the
    distributed n-gram-hash two-phase form).

    Semantics (deterministic, oracle-checkable):

    1. tokens = split(text, ' '); every start position ``p`` (1-based,
       ``p + n - 1 <= len``) yields the span ``tokens[p .. p+n-1]``.
    2. The *canonical* occurrence of each distinct span value is the
       smallest ``(doc_id, p)`` across the corpus; every other
       occurrence is a duplicate.
    3. Token positions covered by any duplicate occurrence are
       removed; the surviving tokens are re-joined in order.

    Scale shape: one explode to |corpus tokens| rows, one hash-agg
    shuffle on the span hash (map-side combine shrinks it to distinct
    spans per map task), one explode of duplicate windows bounded by
    duplicated volume, and a scan-local lambda rebuild — never a
    suffix array, never all-pairs.  Returns
    (doc_id, clean_text, n_tokens, n_removed).
    """
    did, seq = F.col(id_col), f"sequence(1, size(toks) - {n} + 1)"
    toks = docs.select(did.alias("doc_id"),
                       F.split(F.col(text_col), " ").alias("toks"))
    occ = (toks.filter(F.size("toks") >= n)
           .select("doc_id", F.explode(F.expr(
               f"transform({seq}, p -> struct(p AS p, "
               f"xxhash64(array_join(slice(toks, p, {n}), ' ')) AS h))"))
               .alias("o"))
           .select("doc_id", "o.p", "o.h"))
    canon = occ.groupBy("h").agg(
        F.min(F.struct("doc_id", "p")).alias("first"),
        F.count("*").alias("cnt"))
    dup_occ = (occ.join(canon.filter(F.col("cnt") > 1), "h")
               .filter((F.col("doc_id") != F.col("first.doc_id"))
                       | (F.col("p") != F.col("first.p"))))
    removed = (dup_occ
               .select("doc_id",
                       F.explode(F.expr(f"sequence(p, p + {n} - 1)"))
                       .alias("i"))
               .groupBy("doc_id")
               .agg(F.array_sort(F.collect_set("i")).alias("removed")))
    return (toks.join(removed, "doc_id", "left")
            .select(
                "doc_id",
                F.expr("array_join(filter(toks, (t, i) -> removed IS NULL "
                       "OR NOT array_contains(removed, i + 1)), ' ')")
                .alias("clean_text"),
                F.size("toks").alias("n_tokens"),
                F.coalesce(F.size("removed"), F.lit(0)).alias("n_removed")))


def containment_pairs(docs: DataFrame, threshold: float = 1.0,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      max_pairs_per_doc: int | None = None
                      ) -> DataFrame:
    """EXT-DEDUP-NEAR (asymmetric): token-set containment
    C(A in B) = |A∩B| / |A| — catches sub-document duplication
    (quoting, boilerplate inclusion, page-in-page) that symmetric
    Jaccard misses when the host document is much larger.  Emits
    id_a < id_b pairs where EITHER direction's containment reaches
    the threshold, with both ratios.

    Candidate generation is a LOSSLESS containment-prefix filter —
    NOT plain Jaccard-LSH, which has no recall guarantee here:
    containment places no lower bound on Jaccard when sizes are
    skewed (A fully inside a 100x-larger B has J ~ |A|/|B|).  The
    prefix argument adapts directly: C(A in B) >= t forces
    |A∩B| >= ceil(t*|A|), so (pigeonhole) ANY
    ``|A| - ceil(t*|A|) + 1`` tokens of A include a shared one — the
    CONTAINED side joins on its rarity-ordered prefix
    (:func:`_rarity_prefix`) while the host side keeps its full
    token index.  Either direction may reach the threshold, and each
    direction checks its own prefix, so the union of both probes
    covers every qualifying pair.  Hot tokens (stopwords) sort to
    the end of the rarity order and drop out of prefixes, so the
    quadratic hot-token bucket of a raw inverted-index self-join is
    structurally gone — bucket size becomes |prefix docs| x |host
    docs| instead of |docs|².  A doc-keyed recount join then
    computes the TRUE intersection for candidates only; output is
    identical to the naive join (locked by tests/test_dedup.py)."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokens_col(text_col))).alias("tok"))
    sizes = toks.groupBy("doc").agg(F.count("*").alias("n_tok"))
    prefix = _rarity_prefix(toks, sizes, threshold)
    cand = (prefix.alias("pa")
            .join(toks.alias("fb"),
                  (F.col("pa.tok") == F.col("fb.tok"))
                  & (F.col("pa.doc") != F.col("fb.doc")))
            .select(F.least("pa.doc", "fb.doc").alias("doc_a"),
                    F.greatest("pa.doc", "fb.doc").alias("doc_b"))
            .distinct())
    c_ab = F.col("n_common").cast("double") / F.col("n_a").cast("double")
    c_ba = F.col("n_common").cast("double") / F.col("n_b").cast("double")
    return _cap_pairs(
        _verify_common(cand, _doc_token_sets(toks))
        .select("doc_a", "doc_b",
                c_ab.alias("containment_a_in_b"),
                c_ba.alias("containment_b_in_a"))
        .filter(F.greatest("containment_a_in_b", "containment_b_in_a")
                >= threshold),
        max_pairs_per_doc,
        F.greatest("containment_a_in_b",
                   "containment_b_in_a").desc())
