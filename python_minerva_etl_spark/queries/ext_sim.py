"""Declared queries: similarity search + multimodal passthrough
(SURVEY.md §2.11) over ``embeddings``.

Oracle note: cosine is computed as dot/(sqrt(dot_aa)*sqrt(dot_bb))
with *sequential double folds* on both engines — Spark's
``aggregate(zip_with(...))`` is bit-identical to DuckDB's
``list_dot_product`` on DOUBLE[] (verified in
tests/test_determinism.py), so values, thresholds and rankings match
exactly.  DuckDB's ``list_cosine_similarity`` is NOT used (float32
accumulation — drifts).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..ext import similarity as S
from ..ext.similarity import (brute_force_topk, brute_force_topk_arrow,
                              cosine_pairs, cosine_pairs_pivot, ivf_topk,
                              label_centroids)
from .base import DeclaredQuery, t

_COS = ("list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))")


def _sim_topk(spark, sf_dir):
    """EXT-SIM-TOPK (exact baseline): cosine top-5 per query vector
    (queries = vec_id < 10), ties broken by corpus id.  The query side
    broadcasts; the corpus streams once — no corpus shuffle."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(queries, emb, k=5).select(
        "query_id", "corpus_id", "cosine", "rank")


_SIM_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
),
c AS (
  SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
scored AS (
  SELECT query_id, corpus_id,
         {_COS.format(a='qv', b='cv')} AS cosine
  FROM q JOIN c ON query_id <> corpus_id
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, corpus_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, corpus_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def _sim_topk_lsh(spark, sf_dir):
    """EXT-SIM-TOPK (scale path): random-hyperplane LSH buckets →
    within-bucket exact cosine → top-k.  r12: execution routed through
    the Arrow kernel (ext/ann_arrow.lsh_topk_arrow) — same xxhash64
    hyperplanes and bucket structure as the HOF spec twin
    (similarity.lsh_bucketed_topk, agreement test-locked), signatures
    and scoring vectorized (the r11 verdict's constant-factor fix).
    Deterministic but approximate → rows-only check; recall recorded
    in SCALE_r12_ann.json."""
    from ..ext.ann_arrow import lsh_topk_arrow

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_topk_arrow(queries, emb, k=5,
                          num_planes=4, num_tables=16).select(
        "query_id", "corpus_id", "cosine", "rank")


def _sim_topk_ivf(spark, sf_dir):
    """EXT-SIM-TOPK (IVF scale path): hash-seeded k-means cells, probe
    the 4 nearest of 8 — deterministic (no RNG) but approximate →
    rows-only check; recall measured in tests/test_similarity.py."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(queries, emb, k=5, num_cells=8, nprobe=4,
                    lloyd_iters=1).select(
        "query_id", "corpus_id", "cosine", "rank")


def _sim_topk_arrow(spark, sf_dir):
    """EXT-SIM-TOPK (Arrow fast path): numpy-blocked matmul over
    mapInPandas batches — same ranking as the fold path (verified in
    tests/test_similarity.py), BLAS-reassociated floats → rows-only
    check."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk_arrow(queries, emb, k=5).select(
        "query_id", "corpus_id", "cosine", "rank")


def _sim_topk_pq(spark, sf_dir):
    """EXT-SIM-TOPK (PQ scale path): product-quantization ADC over the
    compressed corpus (32 sub-spaces × 16 codewords ≈ 16× smaller than
    the raw vectors), exact re-rank of the ADC top-50 shortlist.  r12:
    training, encoding and ADC scoring routed through the Arrow kernel
    (ext/ann_arrow.pq_topk_arrow — lowest-xxhash64 seeds, numpy Lloyd
    refinement).  Deterministic but approximate → rows-only check;
    recall recorded in SCALE_r12_ann.json."""
    from ..ext.ann_arrow import pq_topk_arrow

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk_arrow(queries, emb, k=5, rerank=50).select(
        "query_id", "corpus_id", "cosine", "rank")


def _dedup_embedding_pairs(spark, sf_dir):
    """EXT-DEDUP (embedding cosine): near-dup pairs with cosine >= 0.4
    (corpus max pairwise ≈ 0.48 — planted-dup free data, threshold
    picks the upper tail)."""
    emb = t(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, threshold=0.4)


_DEDUP_EMBEDDING_PAIRS_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_COS.format(a='a.v', b='b.v')} AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_COS.format(a='a.v', b='b.v')} >= 0.4
"""


def _dedup_embedding_pivot(spark, sf_dir):
    """EXT-DEDUP (embedding, EXACT scale path): the same cosine >= 0.4
    pair set as dedup_embedding_pairs, computed WITHOUT a cross join —
    pivot-blocked epsilon-join (triangle-inequality replication into
    nearest-pivot cells, cell-keyed equi-join, exact re-verify;
    ext/similarity.cosine_pairs_pivot).  Output provably identical to
    the reference cross join (same oracle).  Blocking selectivity
    grows as the threshold does (2r = 2·sqrt(2-2τ)); at near-dup
    thresholds each vector lands in ~1-3 of the cells, at this
    deliberately low corpus-tail threshold the cells overlap more —
    the plan shape (equi-join, no cartesian) is asserted in
    tests/test_similarity.py either way."""
    emb = t(spark, sf_dir, "embeddings")
    return cosine_pairs_pivot(emb, threshold=0.4)


def _dedup_embedding_lsh(spark, sf_dir):
    """EXT-DEDUP (embedding, scale path): the cosine >= 0.4 threshold
    verified only on sign-bucket LSH candidates — never all pairs.
    r12: signatures + candidate verification routed through Arrow
    kernels (ext/ann_arrow.cosine_pairs_lsh_arrow — one matmul per
    batch for codes, rowwise einsum for the verify) around the same
    (table, bucket) candidate equi-join.  Deterministic but
    approximate (recall misses) → rows-only; recall/precision vs the
    exact pivot twin recorded in SCALE_r12_ann.json and test-locked
    in tests/test_ann_arrow.py."""
    from ..ext.ann_arrow import cosine_pairs_lsh_arrow

    emb = t(spark, sf_dir, "embeddings")
    return cosine_pairs_lsh_arrow(emb, threshold=0.4,
                                  num_planes=4, num_tables=16)


def _dedup_semantic(spark, sf_dir):
    """EXT-DEDUP (semantic, SemDeDup-style): cluster the embedding
    space (centroids = k lowest-id vectors — deterministic; the
    Lloyd-refined twin is the IVF index), then drop near-dups with
    cosine >= tau only *within* a cluster.  The cluster assignment
    bounds the quadratic verify — the 100 TB shape from Abbas et al.
    2023 (SemDeDup), distinct from the hash-bucket LSH families."""
    from ..ext.clusters import semantic_dedup

    emb = t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, k=8, tau=0.4)


def _dedup_semantic_indexed(spark, sf_dir):
    """EXT-DEDUP (semantic, IVF-indexed scale twin): SemDeDup where
    cluster assignment comes from a persisted Lloyd-refined IVF index
    (build once per corpus snapshot; num_cells grows with the corpus).
    Deterministic (hash-seeded k-means, no RNG) but a different
    clustering than the declared k-lowest-id form → rows-only check;
    fixed-centroid equivalence + recall vs the declared form are
    locked in tests/test_dedup.py."""
    import os
    import tempfile

    from ..ext.clusters import semantic_dedup_indexed
    from ..ext.similarity import build_ivf_index
    from ..registry import stamp_digest, table_path

    emb = t(spark, sf_dir, "embeddings")
    # named by the embeddings file's stamps: re-runs over the same file
    # REUSE the persisted index (the build-once contract), and a
    # replaced file gets a fresh one
    path = os.path.join(
        tempfile.gettempdir(),
        f"minerva_ivf_{stamp_digest(table_path(sf_dir, 'embeddings'))}")
    if not os.path.exists(os.path.join(path, "centroids")):
        build_ivf_index(emb, path, num_cells=8, lloyd_iters=2)
    return semantic_dedup_indexed(spark, emb, path, tau=0.4)


_DEDUP_SEMANTIC_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
           FROM embeddings),
c AS (SELECT vec_id AS cid, vec AS cvec FROM v ORDER BY vec_id LIMIT 8),
scored AS (
  SELECT v.vec_id, c.cid,
         {_COS.format(a='v.vec', b='c.cvec')} AS cos
  FROM v CROSS JOIN c
),
assign AS (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cid ASC) AS rn
    FROM scored) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id AS vid
  FROM assign a
  JOIN assign b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id
  WHERE {_COS.format(a='va.vec', b='vb.vec')} >= 0.4
)
SELECT a.vec_id, a.cluster_id, (d.vid IS NULL) AS kept
FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vid
"""


def _dataset_cluster_balance(spark, sf_dir):
    """EXT dataset mixing (cluster-balanced sampling): assign each
    embedding to its nearest deterministic centroid (same assignment
    contract as dedup_semantic), then hash-downsample every cluster to
    the size of the smallest — topic-balancing a skewed corpus
    (DCLM-style cluster rebalancing).  The per-cluster quotas are a
    tiny broadcast; acceptance is the md5 draw ranked within cluster,
    so the sample is stable across partitionings."""
    from pyspark.sql.window import Window

    from ..ext.clusters import semantic_dedup  # noqa: F401 (same family)
    from ..ext.similarity import dot_col, norm_col

    emb = t(spark, sf_dir, "embeddings")
    v = emb.select(F.col("vec_id").alias("vid"),
                   F.col("embedding").alias("vec"),
                   norm_col("embedding").alias("vn"))
    cents = (v.orderBy("vid").limit(8)
             .select(F.col("vid").alias("cid"),
                     F.col("vec").alias("cvec"),
                     F.col("vn").alias("cn")))
    scored = (v.join(F.broadcast(cents))
              .withColumn("cos", dot_col("vec", "cvec")
                          / (F.col("vn") * F.col("cn")))
              .withColumn("ncid", -F.col("cid")))
    assign = (scored.groupBy("vid")
              .agg(F.max(F.struct("cos", "ncid")).alias("m"))
              .select("vid", (-F.col("m.ncid")).alias("cluster_id")))
    sizes = assign.groupBy("cluster_id").agg(F.count("*").alias("n"))
    quota = sizes.agg(F.min("n").alias("q"))
    draw = F.conv(F.substring(
        F.md5(F.concat(F.lit("balance-v1"),
                       F.col("vid").cast("string"))), 1, 8), 16, 10)         .cast("bigint")
    w = Window.partitionBy("cluster_id").orderBy(draw.asc(),
                                                 F.col("vid").asc())
    ranked = assign.withColumn("rk", F.row_number().over(w))
    return (ranked.crossJoin(F.broadcast(quota))
            .filter(F.col("rk") <= F.col("q"))
            .select(F.col("vid").alias("vec_id"), "cluster_id"))


_DATASET_CLUSTER_BALANCE_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
           FROM embeddings),
c AS (SELECT vec_id AS cid, vec AS cvec FROM v ORDER BY vec_id LIMIT 8),
scored AS (
  SELECT v.vec_id, c.cid,
         {_COS.format(a='v.vec', b='c.cvec')} AS cos
  FROM v CROSS JOIN c
),
assign AS (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cid ASC) AS rn
    FROM scored) WHERE rn = 1
),
quota AS (
  SELECT MIN(n) AS q FROM (
    SELECT cluster_id, COUNT(*) AS n FROM assign GROUP BY 1)
),
ranked AS (
  SELECT vec_id, cluster_id,
         ROW_NUMBER() OVER (
           PARTITION BY cluster_id
           ORDER BY CAST(('0x' || substring(md5('balance-v1' ||
                     CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) ASC,
                    vec_id ASC) AS rk
  FROM assign
)
SELECT vec_id, cluster_id FROM ranked, quota WHERE rk <= q
"""



def _mm_passthrough(spark, sf_dir):
    """EXT-MM-COL: opaque array/binary columns ride through relational
    ops untouched — filter + join + select keep the embedding intact;
    outputs prove it (dim, first/last elements) without hashing raw
    float arrays."""
    emb = t(spark, sf_dir, "embeddings")
    docs = t(spark, sf_dir, "documents")
    joined = (emb.filter(F.col("label") < 5)
              .join(docs, emb.vec_id == docs.doc_id, "inner"))
    return joined.select(
        "vec_id", "label", "lang",
        F.size("embedding").cast("bigint").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("e_first"),
        F.element_at("embedding", -1).cast("double").alias("e_last"),
    )


_MM_PASSTHROUGH_SQL = """
SELECT vec_id, label, lang,
       CAST(len(embedding) AS BIGINT) AS dim,
       CAST(embedding[1] AS DOUBLE) AS e_first,
       CAST(embedding[len(embedding)] AS DOUBLE) AS e_last
FROM embeddings JOIN documents ON vec_id = doc_id
WHERE label < 5
"""


def _mm_frame_sample(spark, sf_dir):
    """EXT-MM-COL (1:N frame sampling, Arrow path): every doc's bytes
    demuxed into 32-byte frames, every 2nd kept — the mapInPandas
    explode-shape stage oracle-verified end to end (the codec is the
    documented deterministic stub; the Spark-side plumbing — schema,
    Arrow batching, 1:N row fan-out — is the real thing).  Frames are
    hex-encoded in the output so both engines hash identical values."""
    from ..ext.multimodal import sample_frames

    docs = t(spark, sf_dir, "documents")
    b = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    frames = sample_frames(b, "doc_id", "payload",
                           frame_bytes=32, every_n=2)
    return frames.select("asset_id", "frame_idx",
                         F.hex("frame").alias("frame_hex"), "n_bytes")


_MM_FRAME_SAMPLE_SQL = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS h,
         octet_length(encode(text)) AS len
  FROM documents
),
idx AS (
  SELECT doc_id, h,
         unnest(generate_series(
           0, CAST(ceil(len / 32.0) AS BIGINT) - 1)) AS orig_ix
  FROM b WHERE len > 0
)
SELECT doc_id AS asset_id,
       CAST(orig_ix // 2 AS INTEGER) AS frame_idx,
       substring(h, CAST(orig_ix * 64 + 1 AS BIGINT), 64) AS frame_hex,
       CAST(length(substring(h, CAST(orig_ix * 64 + 1 AS BIGINT), 64)) // 2
            AS BIGINT) AS n_bytes
FROM idx WHERE orig_ix % 2 = 0
"""


def _png_payloads(spark, sf_dir):
    """documents → (doc_id, payload) where payload is a REAL 4x4
    greyscale PNG (Sub-filtered scanlines, zlib IDAT, CRC'd chunks)
    whose pixel j is ``(doc_id*31 + j*7) % 256`` — derived from table
    data so the oracle can recompute the pixel stats in pure SQL while
    the Spark side goes through a genuine encode→decode round trip."""
    import pandas as _pd
    from pyspark.sql import types as _T

    from ..ext.codecs import png_encode

    def enc(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield _pd.DataFrame({
                "doc_id": ids,
                "payload": [png_encode(
                    bytes((int(d) * 31 + j * 7) % 256 for j in range(16)),
                    4, 4, 1, filter_type=1) for d in ids],
            })

    schema = _T.StructType([
        _T.StructField("doc_id", _T.LongType()),
        _T.StructField("payload", _T.BinaryType())])
    return t(spark, sf_dir, "documents").select("doc_id") \
        .mapInPandas(enc, schema)


_MM_STATS_SCHEMA = ("doc_id long, width int, height int, channels int, "
                    "n_pixels int, pixel_sum bigint, pixel_min int, "
                    "pixel_max int")


def _mm_decode_png(spark, sf_dir):
    """EXT-MM-COL (REAL image decode): a genuine stdlib PNG decoder
    (signature, chunk walk, zlib inflate, Sub-filter reversal —
    ext/codecs.py) runs as an Arrow-batched mapInPandas stage over
    real PNG payloads and reports integer-exact pixel statistics that
    the DuckDB oracle recomputes from the pixel formula."""
    import pandas as _pd

    from ..ext.codecs import png_stats

    def dec(batches):
        for pdf in batches:
            stats = [png_stats(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "width": [s["width"] for s in stats],
                "height": [s["height"] for s in stats],
                "channels": [s["channels"] for s in stats],
                "n_pixels": [s["n_pixels"] for s in stats],
                "pixel_sum": [s["pixel_sum"] for s in stats],
                "pixel_min": [s["pixel_min"] for s in stats],
                "pixel_max": [s["pixel_max"] for s in stats],
            })

    return _png_payloads(spark, sf_dir).mapInPandas(
        dec, _MM_STATS_SCHEMA)


def _mm_decode_jpeg(spark, sf_dir):
    """EXT-MM-COL (REAL JPEG decode): the stdlib+numpy baseline JFIF
    decoder (marker walk, canonical Huffman, dequant, IDCT, restart
    resync — ext/jpeg.py) runs as an Arrow-batched mapInPandas stage.
    Payloads are 16x16 greyscale JPEGs of four constant 8x8 tiles at
    quality 100 (all-ones quant tables), where baseline JPEG is
    EXACT: a constant block has only a DC coefficient (an integer,
    8*(v-128)), quantization by 1 is lossless, and the IDCT returns
    the constant — so the DuckDB oracle recomputes the pixel stats
    integer-exactly from the tile formula.  Restart markers every 2
    MCUs make the driver row exercise the resync path too."""
    import numpy as _np
    import pandas as _pd
    from pyspark.sql import types as _T

    from ..ext.jpeg import jpeg_encode, jpeg_stats

    def enc_dec(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            rows = []
            for d in ids:
                tiles = [(int(d) * 31 + k * 53) % 256 for k in range(4)]
                img = _np.zeros((16, 16), dtype=_np.uint8)
                img[:8, :8] = tiles[0]
                img[:8, 8:] = tiles[1]
                img[8:, :8] = tiles[2]
                img[8:, 8:] = tiles[3]
                payload = jpeg_encode(img.tobytes(), 16, 16, 1,
                                      quality=100, restart_interval=2)
                rows.append(jpeg_stats(payload))
            yield _pd.DataFrame({
                "doc_id": ids,
                "width": [s["width"] for s in rows],
                "height": [s["height"] for s in rows],
                "channels": [s["channels"] for s in rows],
                "n_pixels": [s["n_pixels"] for s in rows],
                "pixel_sum": [s["pixel_sum"] for s in rows],
                "pixel_min": [s["pixel_min"] for s in rows],
                "pixel_max": [s["pixel_max"] for s in rows],
            })

    return (t(spark, sf_dir, "documents").select("doc_id")
            .mapInPandas(enc_dec, _MM_STATS_SCHEMA))


_MM_DECODE_JPEG_SQL = """
WITH tiles AS (
  SELECT doc_id, (doc_id * 31 + k * 53) % 256 AS v
  FROM documents, range(4) t(k)
)
SELECT doc_id,
       CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS channels,
       CAST(256 AS INTEGER) AS n_pixels,
       CAST(SUM(v) * 64 AS BIGINT) AS pixel_sum,
       CAST(MIN(v) AS INTEGER) AS pixel_min,
       CAST(MAX(v) AS INTEGER) AS pixel_max
FROM tiles GROUP BY doc_id
"""


def _mm_resize(spark, sf_dir):
    """EXT-MM-COL (REAL resize stage): the 4x4 deterministic PNGs go
    through decode → nearest-neighbor numpy resize to 2x2 → PNG
    re-encode (ext/multimodal.resize_images), then the RESIZED
    payloads are decoded AGAIN and their pixel stats reported — so a
    hash match proves the whole encode→resize→re-encode→decode
    pipeline, not just the arithmetic.  Nearest-neighbor source index
    is floor(i*src/dst), so output pixel (r,c) = input (2r,2c) = byte
    j ∈ {0,2,8,10}, which the DuckDB oracle recomputes from the pixel
    formula."""
    import pandas as _pd

    from ..ext.codecs import png_stats
    from ..ext.multimodal import resize_images

    resized = resize_images(_png_payloads(spark, sf_dir),
                            "doc_id", "payload", 2, 2,
                            method="nearest")

    def dec(batches):
        for pdf in batches:
            stats = [png_stats(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame({
                "doc_id": pdf["asset_id"].astype("int64"),
                "width": [s["width"] for s in stats],
                "height": [s["height"] for s in stats],
                "channels": [s["channels"] for s in stats],
                "n_pixels": [s["n_pixels"] for s in stats],
                "pixel_sum": [s["pixel_sum"] for s in stats],
                "pixel_min": [s["pixel_min"] for s in stats],
                "pixel_max": [s["pixel_max"] for s in stats],
            })

    return resized.mapInPandas(dec, _MM_STATS_SCHEMA)


_MM_RESIZE_SQL = """
WITH px AS (
  SELECT doc_id,
         (doc_id * 31 + ((k // 2) * 8 + (k % 2) * 2) * 7) % 256 AS p
  FROM documents, range(4) t(k)
)
SELECT doc_id,
       CAST(2 AS INTEGER) AS width, CAST(2 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS channels,
       CAST(4 AS INTEGER) AS n_pixels,
       CAST(SUM(p) AS BIGINT) AS pixel_sum,
       CAST(MIN(p) AS INTEGER) AS pixel_min,
       CAST(MAX(p) AS INTEGER) AS pixel_max
FROM px GROUP BY doc_id
"""


_MM_DECODE_PNG_SQL = """
WITH px AS (
  SELECT doc_id, (doc_id * 31 + j * 7) % 256 AS p
  FROM documents, range(16) t(j)
)
SELECT doc_id,
       CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS channels,
       CAST(COUNT(*) AS INTEGER) AS n_pixels,
       CAST(SUM(p) AS BIGINT) AS pixel_sum,
       CAST(MIN(p) AS INTEGER) AS pixel_min,
       CAST(MAX(p) AS INTEGER) AS pixel_max
FROM px GROUP BY doc_id
"""


def _wav_payloads(spark, sf_dir):
    """documents → (doc_id, payload) with payload a REAL RIFF/WAVE
    16-bit PCM file of 100 samples ``(doc_id*37 + j*13) % 4001 -
    2000`` at 8 kHz mono."""
    import pandas as _pd
    from pyspark.sql import types as _T

    from ..ext.codecs import wav_encode

    def enc(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield _pd.DataFrame({
                "doc_id": ids,
                "payload": [wav_encode(
                    [(int(d) * 37 + j * 13) % 4001 - 2000
                     for j in range(100)], sample_rate=8000)
                    for d in ids],
            })

    schema = _T.StructType([
        _T.StructField("doc_id", _T.LongType()),
        _T.StructField("payload", _T.BinaryType())])
    return t(spark, sf_dir, "documents").select("doc_id") \
        .mapInPandas(enc, schema)


def _mm_decode_wav(spark, sf_dir):
    """EXT-MM-COL (REAL audio decode): genuine RIFF/WAVE chunk-walk
    decode of 16-bit PCM (ext/codecs.py) as an Arrow-batched stage;
    integer-exact PCM statistics vs the oracle's sample formula."""
    import pandas as _pd

    from ..ext.codecs import wav_stats

    def dec(batches):
        for pdf in batches:
            stats = [wav_stats(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "sample_rate": [s["sample_rate"] for s in stats],
                "n_samples": [s["n_samples"] for s in stats],
                "duration_ms": [s["duration_ms"] for s in stats],
                "sample_sum": [s["sample_sum"] for s in stats],
                "abs_sum": [s["abs_sum"] for s in stats],
                "sample_min": [s["sample_min"] for s in stats],
                "sample_max": [s["sample_max"] for s in stats],
            })

    return _wav_payloads(spark, sf_dir).mapInPandas(
        dec, "doc_id long, sample_rate int, n_samples int, "
             "duration_ms int, sample_sum bigint, abs_sum bigint, "
             "sample_min int, sample_max int")


_MM_DECODE_WAV_SQL = """
WITH s AS (
  SELECT doc_id, (doc_id * 37 + j * 13) % 4001 - 2000 AS v
  FROM documents, range(100) t(j)
)
SELECT doc_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(COUNT(*) AS INTEGER) AS n_samples,
       CAST(12 AS INTEGER) AS duration_ms,
       CAST(SUM(v) AS BIGINT) AS sample_sum,
       CAST(SUM(ABS(v)) AS BIGINT) AS abs_sum,
       CAST(MIN(v) AS INTEGER) AS sample_min,
       CAST(MAX(v) AS INTEGER) AS sample_max
FROM s GROUP BY doc_id
"""


def _mm_wav_frames(spark, sf_dir):
    """EXT-MM-COL (REAL audio demux/window): the WAV container is
    genuinely decoded and its PCM stream windowed into 16-sample
    frames with every 2nd kept (ext/codecs.wav_frames as the
    sample_frames splitter — the real-demuxer slot the round-3 stub
    documented), then each emitted frame's int16 content is unpacked
    and summed so the oracle verifies frame CONTENT, not just shape."""
    import struct as _struct

    import pandas as _pd

    from ..ext.codecs import wav_frames
    from ..ext.multimodal import sample_frames

    frames = sample_frames(
        _wav_payloads(spark, sf_dir), "doc_id", "payload",
        splitter=lambda p, fb, en: wav_frames(p, frame_samples=16,
                                              every_n=2))

    def unpack(batches):
        for pdf in batches:
            vals = [_struct.unpack(f"<{len(b) // 2}h", bytes(b))
                    for b in pdf["frame"]]
            yield _pd.DataFrame({
                "asset_id": pdf["asset_id"].astype("int64"),
                "frame_idx": pdf["frame_idx"].astype("int32"),
                "n_frame_samples": [len(v) for v in vals],
                "frame_sum": [sum(v) for v in vals],
            })

    return frames.mapInPandas(
        unpack, "asset_id long, frame_idx int, n_frame_samples int, "
                "frame_sum bigint")


_MM_WAV_FRAMES_SQL = """
WITH s AS (
  SELECT doc_id, k, (doc_id * 37 + j * 13) % 4001 - 2000 AS v
  FROM documents, range(4) f(k), range(100) r(j)
  WHERE j >= k * 32 AND j < LEAST(k * 32 + 16, 100)
)
SELECT doc_id AS asset_id,
       CAST(k AS INTEGER) AS frame_idx,
       CAST(COUNT(*) AS INTEGER) AS n_frame_samples,
       CAST(SUM(v) AS BIGINT) AS frame_sum
FROM s GROUP BY doc_id, k
"""


def _fn_array_ops(spark, sf_dir):
    """OP-F-ARRAY: array family — size, element access, contains,
    exact double-fold sums (sum of elements, L2 norm)."""
    emb = t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("e_first"),
        F.expr("aggregate(embedding, cast(0.0 as double), "
               "(acc, x) -> acc + cast(x as double))").alias("e_sum"),
        F.sqrt(F.expr(
            "aggregate(embedding, cast(0.0 as double), "
            "(acc, x) -> acc + cast(x as double) * cast(x as double))"))
        .alias("l2_norm"),
    )


_FN_ARRAY_OPS_SQL = """
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       CAST(embedding[1] AS DOUBLE) AS e_first,
       list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x),
                   (a, b) -> a + b) AS e_sum,
       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[]))) AS l2_norm
FROM embeddings
"""


def _embedding_centroids(spark, sf_dir):
    """EXT-SIM (centroids): per-label mean embedding via fixed-point
    (2^24-scaled bigint) accumulation — distributed float sums made
    order-independent, so the centroid is bit-exact on any cluster.
    Output exploded to (label, pos, coord, n) rows for the compare."""
    emb = t(spark, sf_dir, "embeddings")
    cents = label_centroids(emb)
    return cents.select(
        "label", "n",
        F.posexplode("centroid").alias("pos", "coord"))


_EMBEDDING_CENTROIDS_SQL = """
WITH x AS (
  SELECT label,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS val
  FROM embeddings
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n, CAST(pos AS INT) AS pos,
       CAST(SUM(CAST(floor(val * 16777216) AS BIGINT)) AS DOUBLE)
         / (COUNT(*) * CAST(16777216 AS DOUBLE)) AS coord
FROM x
GROUP BY label, pos
"""


def _embedding_quantize(spark, sf_dir):
    """EXT-SIM / EXT-MM (compression): per-vector max-abs int8 scalar
    quantization — the standard ANN memory trick (4x smaller corpus,
    SIMD int dot products).  Scan-local (transform/aggregate HOFs, no
    shuffle, no UDF); float32 coords widen to double before any
    arithmetic so both engines quantize identical values.  Output is
    the quantized codes as CSV plus the L1 checksum of the codes."""
    emb = t(spark, sf_dir, "embeddings")
    qexpr = ("transform(embedding, x -> "
             "cast(round(cast(x as double) * scale) as int))")
    return (
        emb.withColumn("maxabs", F.expr(
            "aggregate(embedding, cast(0.0 as double), "
            "(acc, x) -> greatest(acc, abs(cast(x as double))))"))
        .filter(F.col("maxabs") > 0)
        .withColumn("scale", F.lit(127.0) / F.col("maxabs"))
        .select(
            "vec_id", "scale",
            F.concat_ws(",", F.expr(qexpr)).alias("q_csv"),
            F.expr(f"aggregate({qexpr}, cast(0 as bigint), "
                   "(acc, q) -> acc + abs(cast(q as bigint)))")
            .alias("l1_q"))
    )


_EMBEDDING_QUANTIZE_SQL = """
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> abs(x))) AS maxabs
  FROM embeddings
)
SELECT vec_id,
       127.0 / maxabs AS scale,
       array_to_string(list_transform(e,
         x -> CAST(round(x * (127.0 / maxabs)) AS INTEGER)), ',') AS q_csv,
       list_reduce(list_transform(e,
         x -> abs(CAST(round(x * (127.0 / maxabs)) AS BIGINT))),
         (a, b) -> a + b) AS l1_q
FROM s WHERE maxabs > 0
"""


QUERIES = [
    DeclaredQuery("sim_topk", _sim_topk, _SIM_TOPK_SQL, "EXT-SIM-TOPK"),
    DeclaredQuery("embedding_quantize", _embedding_quantize, _EMBEDDING_QUANTIZE_SQL, "EXT-SIM/EXT-MM (int8 quantization)"),
    DeclaredQuery("sim_topk_lsh", _sim_topk_lsh, None, "EXT-SIM-TOPK (LSH scale path)"),
    DeclaredQuery("sim_topk_ivf", _sim_topk_ivf, None, "EXT-SIM-TOPK (IVF scale path)"),
    DeclaredQuery("sim_topk_arrow", _sim_topk_arrow, None, "EXT-SIM-TOPK (Arrow fast path)"),
    DeclaredQuery("sim_topk_pq", _sim_topk_pq, None, "EXT-SIM-TOPK (PQ/ADC scale path)"),
    DeclaredQuery("dedup_embedding_pairs", _dedup_embedding_pairs, _DEDUP_EMBEDDING_PAIRS_SQL, "EXT-DEDUP (embedding)"),
    DeclaredQuery("dedup_embedding_pivot", _dedup_embedding_pivot, _DEDUP_EMBEDDING_PAIRS_SQL, "EXT-DEDUP (embedding, exact pivot-blocked scale path)"),
    DeclaredQuery("dedup_embedding_lsh", _dedup_embedding_lsh, None, "EXT-DEDUP (embedding LSH scale path)"),
    DeclaredQuery("dataset_cluster_balance", _dataset_cluster_balance, _DATASET_CLUSTER_BALANCE_SQL, "EXT dataset mixing (cluster-balanced sampling)"),
    DeclaredQuery("dedup_semantic", _dedup_semantic, _DEDUP_SEMANTIC_SQL, "EXT-DEDUP (semantic, SemDeDup-style)"),
    DeclaredQuery("dedup_semantic_indexed", _dedup_semantic_indexed, None, "EXT-DEDUP (semantic, persisted-IVF scale twin)"),
    DeclaredQuery("mm_passthrough", _mm_passthrough, _MM_PASSTHROUGH_SQL, "EXT-MM-COL"),
    DeclaredQuery("mm_frame_sample", _mm_frame_sample, _MM_FRAME_SAMPLE_SQL, "EXT-MM-COL (1:N frame sampling, mapInPandas)"),
    DeclaredQuery("mm_decode_png", _mm_decode_png, _MM_DECODE_PNG_SQL, "EXT-MM-COL (REAL PNG decode, stdlib codec)"),
    DeclaredQuery("mm_decode_jpeg", _mm_decode_jpeg, _MM_DECODE_JPEG_SQL, "EXT-MM-COL (REAL baseline JPEG decode, stdlib+numpy codec)"),
    DeclaredQuery("mm_resize", _mm_resize, _MM_RESIZE_SQL, "EXT-MM-COL (REAL resize stage: decode -> numpy resize -> re-encode)"),
    DeclaredQuery("mm_decode_wav", _mm_decode_wav, _MM_DECODE_WAV_SQL, "EXT-MM-COL (REAL WAV PCM decode, stdlib codec)"),
    DeclaredQuery("mm_wav_frames", _mm_wav_frames, _MM_WAV_FRAMES_SQL, "EXT-MM-COL (REAL WAV demux/window + content verify)"),
    DeclaredQuery("fn_array_ops", _fn_array_ops, _FN_ARRAY_OPS_SQL, "OP-F-ARRAY"),
    DeclaredQuery("embedding_centroids", _embedding_centroids, _EMBEDDING_CENTROIDS_SQL, "EXT-SIM (label centroids)"),
]


def _embedding_health(spark, sf_dir):
    """EXT-SIM (vector-column data quality): per label, vector count,
    dimensionality check, zero-vector count, and the average L2 norm —
    the sanity report run before trusting an embedding table (a broken
    encoder ships zeros or wrong dims long before cosine search
    notices).  Norms use the same sequential-double fold as the
    search path (bit-identical to the oracle's list_dot_product);
    their SUM is decimal-staged so the per-label average cannot drift
    with partition merge order."""
    emb = t(spark, sf_dir, "embeddings")
    norm = F.sqrt(S.dot_col("embedding", "embedding"))
    return (emb.select(
        "label",
        F.size("embedding").alias("dim"),
        norm.alias("norm"))
        .groupBy("label")
        .agg(F.count("*").alias("n_vectors"),
             F.countDistinct("dim").alias("n_dims"),
             F.min("dim").alias("min_dim"),
             F.sum(F.when(F.col("norm") == 0.0, 1).otherwise(0))
             .alias("n_zero"),
             (F.sum(F.col("norm").cast("decimal(28,10)"))
              .cast("double") / F.count("*").cast("double"))
             .alias("avg_norm")))


_EMBEDDING_HEALTH_SQL = """
WITH n AS (
  SELECT label,
         len(embedding) AS dim,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS norm
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vectors,
       COUNT(DISTINCT dim) AS n_dims,
       MIN(dim) AS min_dim,
       CAST(SUM(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_zero,
       CAST(SUM(CAST(norm AS DECIMAL(28,10))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_norm
FROM n GROUP BY 1
"""


QUERIES.append(
    DeclaredQuery("embedding_health", _embedding_health,
                  _EMBEDDING_HEALTH_SQL,
                  "EXT-SIM (embedding-column health report)"))
