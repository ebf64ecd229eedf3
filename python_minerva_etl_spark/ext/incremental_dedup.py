"""Incremental (continuous-ingest) near-dup dedup against persisted
fingerprint state.

Batch dedup (``dedup.py``) assumes the whole corpus is in hand.  A
production 100 TB pipeline ingests continuously and must answer "is
this NEW document a near-dup of anything we already accepted?" without
re-scanning accepted text.  The state kept here is the MinHash
*signature* table — ``num_hashes`` longs per accepted doc (512 bytes
at 64 hashes), orders of magnitude below the text itself — and the
verify phase estimates Jaccard from signature agreement (the standard
signature-verify used by SlimPajama-style dedup; the estimator's
stderr is ~sqrt(s(1-s)/k), so 64 hashes resolve a 0.8 threshold to
±0.05).

Per batch the work is:

1. signatures of the new batch (explode + groupBy — one shuffle over
   the batch, never the corpus);
2. LSH band join of new-batch bands against state bands — shuffle
   keyed by (band, bucket), linear in candidates, never all-pairs;
3. within-batch greedy: a new doc also drops if a LOWER-id batch mate
   matches it (exact-dup cliques keep exactly their canonical);
4. survivors' signatures are unioned into the returned state.

First-seen-wins across batches: once a doc is accepted its signature
stays in state, and every later near-dup of it is dropped.  Processing
id-ordered batches of a corpus whose dup groups are cliques (exact
duplicates) yields exactly the batch-mode ``dedup_keep_canonical``
keep set (locked by test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import (bucket_chain, bucket_pairs, minhash_bands,
                    minhash_signatures)

#: state schema: (doc long, signature array<long>)
STATE_COLS = ("doc", "signature")

#: within-batch chain depth for buckets deeper than
#: ``skew_bucket_threshold``: the depth at which the recorded keep-set
#: recall curve (SCALE_r12_batch_neighborhood.json) reaches 1.0 on
#: graded near-cliques in both id orders
CHAIN_DEPTH = 16


def signature_jaccard_est(sig_a, sig_b) -> F.Column:
    """Estimated Jaccard = fraction of agreeing signature positions."""
    agree = F.size(F.filter(
        F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v))
    return agree.cast("double") / F.size(sig_a).cast("double")


def compact_state(state: DataFrame,
                  retain_min_doc: int | None = None) -> DataFrame:
    """Bound the signature store — without this it grows forever.

    Two compactions a continuous pipeline needs:

    - **Replay idempotence**: at-least-once delivery re-processes a
      batch whose docs are already in state; the union in
      :func:`incremental_dedup` would then hold the same ``(doc,
      signature)`` row twice (signatures are deterministic, so the
      copies are identical).  Keep one row per doc.
    - **Retention horizon**: real dedup state is bounded by policy,
      not storage — dedup against the trailing window of accepted
      docs and let older fingerprints expire (the same policy
      Structured Streaming applies to ``dropDuplicatesWithinWatermark``
      state).  Doc ids are the ingest order in this pipeline
      (id-ordered batches are the module contract), so the horizon is
      a minimum doc id; rows below it are dropped and a future
      near-dup of an expired doc is — by design — accepted again.

    Run this between ingests (or on a maintenance schedule); both
    steps are one shuffle over STATE, never over the corpus text.
    """
    out = state.select(*STATE_COLS).dropDuplicates(["doc"])
    if retain_min_doc is not None:
        out = out.filter(F.col("doc") >= F.lit(retain_min_doc))
    return out


def incremental_dedup(state: DataFrame | None, batch: DataFrame,
                      threshold: float = 0.8, num_hashes: int = 64,
                      bands: int = 16, id_col: str = "doc_id",
                      text_col: str = "text",
                      skew_bucket_threshold: int | None = None
                      ) -> tuple[DataFrame, DataFrame]:
    """Dedup ``batch`` against accepted ``state`` (and itself).

    Returns ``(accepted, new_state)``: the accepted batch rows (all
    original columns) and the signature state grown by them.  Pass
    ``state=None`` for the first batch.  Persist ``new_state``
    (parquet/SnapTable) between runs; the caller owns storage.

    Within the batch, the default is the exact ``(band, bucket)``
    self-join (:func:`~.dedup.bucket_pairs`): a lower-id batch mate in
    the same bucket wins, at O(sum bucket²).

    ``skew_bucket_threshold=S`` is the ADAPTIVE bound (the
    AQE-skew-join idea applied to dedup): buckets with ≤ S batch
    members keep the exact self-join — so on a batch with no deep
    bucket the keep set is IDENTICAL to the default, test-locked —
    and only buckets deeper than S (where the self-join is
    quadratic) switch to id-ordered lead() chains of the fixed depth
    ``CHAIN_DEPTH`` = 16 (:func:`~.dedup.bucket_chain`, the
    sorted-neighborhood pattern).  On exact-dup cliques the chain
    keeps the same set as the join (member k's chain predecessor k−1
    is a true match, so everyone but the canonical still drops —
    test-locked).  Routing is per (band, bucket): a doc chained in
    one band is still exactly joined in every un-skewed band.
    Recommended for production ingest: worst-case
    O(n·S + n·16·bands) instead of O(clique²), exactness preserved
    everywhere the exact join is affordable.  The batch-vs-STATE
    join is unaffected — it is candidate-bounded by the batch size
    already.
    """
    sig_new = minhash_signatures(batch, num_hashes, id_col, text_col)
    new_b = minhash_bands(sig_new, num_hashes, bands)

    dropped_vs_state = None
    if state is not None:
        st_b = minhash_bands(state.select(*STATE_COLS), num_hashes, bands)
        dropped_vs_state = (
            new_b.alias("n")
            .join(st_b.alias("s"),
                  (F.col("n.band") == F.col("s.band"))
                  & (F.col("n.bucket") == F.col("s.bucket")))
            .filter(signature_jaccard_est(
                F.col("n.signature"), F.col("s.signature")) >= threshold)
            .select(F.col("n.doc").alias("doc")).distinct())

    if skew_bucket_threshold is None:
        cands = bucket_pairs(new_b, "signature")
    else:
        # adaptive: exact join where affordable, chain where quadratic.
        # The bucket-size window shuffles on (band, bucket) — the same
        # key both downstream paths partition by.
        sized = new_b.withColumn(
            "bsz", F.count("*").over(Window.partitionBy("band",
                                                        "bucket")))
        deep = F.col("bsz") > skew_bucket_threshold
        cands = bucket_pairs(sized.filter(~deep).drop("bsz"),
                             "signature").unionByName(
            bucket_chain(sized.filter(deep).drop("bsz"), CHAIN_DEPTH,
                         "signature"))
    # a candidate's later-id doc drops when the lower-id mate matches
    dropped_in_batch = (
        cands.filter(signature_jaccard_est(
            F.col("signature_a"), F.col("signature_b")) >= threshold)
        .select(F.col("doc_b").alias("doc")).distinct())

    dropped = dropped_in_batch if dropped_vs_state is None else \
        dropped_in_batch.unionByName(dropped_vs_state).distinct()

    accepted = (batch.join(
        dropped.withColumnRenamed("doc", id_col), id_col, "left_anti"))
    accepted_sigs = sig_new.join(
        dropped, sig_new["doc"] == dropped["doc"], "left_anti")
    new_state = accepted_sigs.select(*STATE_COLS) if state is None else \
        state.select(*STATE_COLS).unionByName(
            accepted_sigs.select(*STATE_COLS))
    return accepted, new_state
