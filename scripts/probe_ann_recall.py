#!/usr/bin/env python
"""Recall + crossover artifact for the approximate similarity twins.

r11 exposed two honesty problems this probe now fixes:

1. **Baseline inconsistency** (r11 verdict "what's wrong" #2): the
   old probe timed the exact baseline FIRST in a cold session, so its
   figure absorbed JVM/codegen warmup (17.4 s on 2,000 vectors vs
   4.9 s on 200,000).  Now: a contention gate + an explicit warmup
   query run first, every path reports ``build_sec`` (driver-side
   plan/training work, incl. index training collects) and
   ``exec_sec`` (steady-state: the median of 2 post-warm runs of the
   materializing collect), and the artifact names exactly which
   function each baseline ran.
2. **No crossover on record** (verdict "next round" #1): the
   approximate paths only pay off when query count × corpus size
   outgrows brute force.  The probe sweeps m (number of queries) and
   records exact-vs-index timings per m, with recall, so the
   crossover N is a number, not a claim.

Exact baseline: ``brute_force_topk_arrow`` (the exact Arrow kernel —
the fastest exact form, so the comparison is honest).  The HOF fold
twin (``brute_force_topk``, the oracle-checkable spec) is timed once
at the smallest m for context.

Usage: python scripts/probe_ann_recall.py [sf_dir] [--skip-pairs]
       [--pairs-only] [--pairs-threshold 0.4]
       [--pairs-truth pivot|exactdup]
       [--sweep 10,100,1000] [--out FILE]
Prints one JSON line (and writes --out if given); merge into
SCALE_r{N}_ann.json.

``--pairs-threshold`` matters at the replica fixtures: the exact
pivot blocking is built for NEAR-DUP radii (each vector replicates
into ~1-3 cells); at the sf0.1 corpus-tail threshold 0.4 the radius
2r ≈ 2.2 exceeds typical inter-point distances, every vector lands in
every cell, and the "blocked" join degenerates to all-pairs — at 200k
vectors that filled 78 GB of shuffle spill.  Probe scaled fixtures at
0.95 (the dedup use case, where cliques are exact-duplicate replicas).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

K = 5


def _topk_sets(rows) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.corpus_id)
    return out


def _recall_ids(exact: dict, approx: dict) -> float:
    """Strict id-set overlap.  MISLEADING on replica fixtures: exact
    ties (cosine 1.0 cliques) order by last-ulp BLAS reassociation
    noise, which differs between the exact and approximate blockings,
    so equally-good answers read as misses.  Kept for the record."""
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    want = sum(len(exact[q]) for q in exact)
    return round(hits / want, 4) if want else 1.0


def _kth_scores(rows) -> dict:
    """Per query: the k-th (lowest) cosine of the exact top-k."""
    by: dict = {}
    for r in rows:
        by.setdefault(r.query_id, []).append(r.cosine)
    return {q: min(v) for q, v in by.items()}


def _recall_score(exact_rows, approx_rows, eps: float = 1e-9) -> float:
    """Tie-robust recall@k (the standard ANN-benchmark definition):
    an approximate result counts as a hit iff its cosine is >= the
    exact k-th score - eps, i.e. it is AS GOOD AS an exact answer —
    id identity is not required among equal-scored ties."""
    kth = _kth_scores(exact_rows)
    want_by: dict = {}
    for r in exact_rows:
        want_by[r.query_id] = want_by.get(r.query_id, 0) + 1
    hits_by: dict = {}
    for r in approx_rows:
        q = r.query_id
        if q in kth and r.cosine >= kth[q] - eps:
            hits_by[q] = hits_by.get(q, 0) + 1
    hits = sum(min(hits_by.get(q, 0), n) for q, n in want_by.items())
    want = sum(want_by.values())
    return round(hits / want, 4) if want else 1.0


def _timed(fn, steady: int = 2):
    """fn builds-and-returns a DataFrame.  Returns (rows, build_sec,
    exec_sec, runs): build = DataFrame construction (incl. any
    training jobs the path runs eagerly); exec = median of ``steady``
    timed runs, each on a FRESHLY-BUILT DataFrame (fn() again) so the
    DAG scheduler cannot skip stages whose shuffle outputs exist from
    a prior collect of the same lineage — re-collecting one DataFrame
    times only the post-shuffle tail (the r12 flaw: "exact 0.2 s" on
    2M x 1000).  The first build's collect stays as the codegen/Arrow
    warm-up and is not reported; the codegen cache is keyed by
    generated source, so identical fresh plans still run warm."""
    t0 = time.perf_counter()
    df = fn()
    build = time.perf_counter() - t0
    rows = df.collect()                           # codegen warm-up
    runs = []
    for _ in range(steady):
        df2 = fn()                                # fresh lineage
        t0 = time.perf_counter()
        rows = df2.collect()
        runs.append(round(time.perf_counter() - t0, 2))
    runs.sort()
    return rows, round(build, 2), runs[len(runs) // 2], runs


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    skip_pairs = "--skip-pairs" in sys.argv
    pairs_only = "--pairs-only" in sys.argv
    pair_threshold = 0.4
    pairs_truth = "pivot"
    # candidate volume per (table, bucket) is ~ (n / 2^planes)^2, so
    # planes must grow with log2(n) — the declared sf0.1 setting is
    # 4 planes x 16 tables; pass --pairs-planes ~log2(n/50) at scaled
    # fixtures
    pairs_planes, pairs_tables = 4, 16
    sweep = [10]
    steady = 2
    out_path = None
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--sweep":
            sweep = [int(x) for x in argv[i + 1].split(",")]
        if a == "--out":
            out_path = argv[i + 1]
        if a == "--steady":
            steady = int(argv[i + 1])
        if a == "--pairs-threshold":
            pair_threshold = float(argv[i + 1])
        if a == "--pairs-truth":
            pairs_truth = argv[i + 1]
        if a == "--pairs-planes":
            pairs_planes = int(argv[i + 1])
        if a == "--pairs-tables":
            pairs_tables = int(argv[i + 1])
    args = [a for a in args
            if a not in {argv[i + 1] for i, x in enumerate(argv[:-1])
                         if x in ("--sweep", "--out", "--steady",
                                  "--pairs-threshold", "--pairs-truth",
                                  "--pairs-planes", "--pairs-tables")}]
    if pairs_only:
        sweep = []
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    import numpy as np
    from pyspark.sql import functions as F

    from benchgate import contention_gate
    from python_minerva_etl_spark.ext.ann_arrow import (
        cosine_pairs_lsh_arrow, lsh_topk_arrow, pq_topk_arrow,
        _pq_codebooks_arrow)
    from python_minerva_etl_spark.ext.similarity import (
        brute_force_topk, brute_force_topk_arrow, build_ivf_index,
        cosine_pairs_pivot, ivf_topk, ivf_topk_indexed)
    from python_minerva_etl_spark.registry import load_table
    from python_minerva_etl_spark.session import get_spark

    spark = get_spark(app_name="probe-ann-recall")
    spark.sparkContext.setLogLevel("ERROR")

    gate = contention_gate(spark)
    emb = load_table(spark, sf_dir, "embeddings").cache()
    n_corpus = emb.count()                        # also warms the cache

    # index scale knobs grow with the corpus; declared-params entries
    # keep the catalog parameterization for continuity with r11
    crossover_params = {
        "lsh": {"num_planes": 12, "num_tables": 8},
        "ivf": {"num_cells": max(16, min(256, n_corpus // 800)),
                "nprobe": 8, "lloyd_iters": 1},
        "pq": {"m": 32, "ksub": 16, "train_iters": 2, "rerank": 50},
    }

    # ---- build-once indexes (priced separately, reused per m) ----
    pq_train_sec = ivf_index_build_sec = None
    cbs = idx_path = None
    if sweep:
        t0 = time.perf_counter()
        cbs = _pq_codebooks_arrow(
            emb, crossover_params["pq"]["m"],
            crossover_params["pq"]["ksub"],
            crossover_params["pq"]["train_iters"], "vec_id", "embedding")
        pq_train_sec = round(time.perf_counter() - t0, 2)
        # the persisted, hive-partitioned IVF index — the only path
        # that skips the corpus SCAN too (partition pruning on the
        # probed cells), i.e. the actual 100 TB query shape
        import hashlib
        import tempfile
        idx_path = os.path.join(
            tempfile.gettempdir(),
            "minerva_ivf_probe_"
            + hashlib.md5(sf_dir.encode()).hexdigest()[:12])
        t0 = time.perf_counter()
        build_ivf_index(
            emb, idx_path,
            num_cells=crossover_params["ivf"]["num_cells"],
            lloyd_iters=crossover_params["ivf"]["lloyd_iters"])
        ivf_index_build_sec = round(time.perf_counter() - t0, 2)

    results: dict = {}
    for m in sweep:
        queries = emb.filter(F.col("vec_id") < m)
        n_q = queries.count()

        ex_rows, ex_build, ex_exec, ex_runs = _timed(
            lambda: brute_force_topk_arrow(queries, emb, k=K),
            steady=steady)
        exact = _topk_sets(ex_rows)
        entry: dict = {
            "n_queries": n_q,
            "exact_arrow": {"build_sec": ex_build,
                            "exec_sec": ex_exec, "runs": ex_runs},
        }
        if m == sweep[0]:
            _, f_build, f_exec, _ = _timed(
                lambda: brute_force_topk(queries, emb, k=K), steady=1)
            entry["exact_fold_spec"] = {"build_sec": f_build,
                                        "exec_sec": f_exec}

        paths = {
            "lsh_arrow": lambda: lsh_topk_arrow(
                queries, emb, k=K, **crossover_params["lsh"]),
            "pq_arrow_indexed": lambda: pq_topk_arrow(
                queries, emb, k=K,
                rerank=crossover_params["pq"]["rerank"],
                codebooks=cbs),
            "ivf_indexed_pruned": lambda: ivf_topk_indexed(
                spark, queries, idx_path, k=K,
                nprobe=crossover_params["ivf"]["nprobe"]),
        }
        if m <= 10:
            # declared-catalog parameterizations, for r11 continuity
            paths["sim_topk_lsh_declared"] = lambda: lsh_topk_arrow(
                queries, emb, k=K, num_planes=4, num_tables=16)
            paths["sim_topk_ivf_declared"] = lambda: ivf_topk(
                queries, emb, k=K, num_cells=8, nprobe=4,
                lloyd_iters=1)
            paths["sim_topk_pq_declared"] = lambda: pq_topk_arrow(
                queries, emb, k=K, rerank=50)
        for name, fn in paths.items():
            rows, build, execs, runs = _timed(fn, steady=steady)
            entry[name] = {
                "recall_at_k": _recall_score(ex_rows, rows),
                "recall_ids": _recall_ids(exact, _topk_sets(rows)),
                "build_sec": build, "exec_sec": execs, "runs": runs}
        results[f"m={m}"] = entry
        print(f"# m={m}: exact {ex_exec}s; " + ", ".join(
            f"{n} {entry[n]['exec_sec']}s r={entry[n]['recall_at_k']}"
            for n in paths), file=sys.stderr)

    pairs = None
    if not skip_pairs:
        # distributed compare (pair sets can be millions of rows at
        # the scaled fixtures — never collected): timing by noop-force,
        # recall/precision by counts + an inner join on the pair key
        from benchgate import force

        def _timed_force(fn, steady: int = 2):
            df = fn()
            force(df)                             # codegen warm-up
            runs = []
            for _ in range(steady):
                t0 = time.perf_counter()
                force(fn())                       # fresh lineage
                runs.append(time.perf_counter() - t0)
            runs.sort()
            return df, round(runs[len(runs) // 2], 2)

        lsh_df, l_exec = _timed_force(
            lambda: cosine_pairs_lsh_arrow(emb,
                                           threshold=pair_threshold,
                                           num_planes=pairs_planes,
                                           num_tables=pairs_tables))
        n_lsh = lsh_df.count()
        if pairs_truth == "exactdup":
            # Replica fixtures: a DataFrame exact pair join is
            # INFEASIBLE here and that is the finding, not a bug —
            # the pivot blocking prunes by triangle inequality, but a
            # uniform random corpus has all inter-point distances
            # within the 2r margin of each other, so every vector
            # replicates into every cell and the "blocked" join
            # degenerates to all-pairs (measured: >50 GB shuffle
            # spill at 200k vectors before being killed).  Ground
            # truth instead comes from problem knowledge the planner
            # does not have: replicas are BIT-IDENTICAL vectors, and
            # the base corpus' max non-self cosine is far below the
            # near-dup threshold — asserted below on the distinct
            # set — so the true pair set at τ is EXACTLY the
            # identical-vector cliques.
            gmap = emb.select(
                F.col("vec_id").alias("gid"),
                F.xxhash64(F.col("embedding").cast("array<double>"))
                .alias("g"))
            reps = gmap.groupBy("g").count()
            distinct_rows = (emb.withColumn(
                "g", F.xxhash64(F.col("embedding")
                                .cast("array<double>")))
                .dropDuplicates(["g"]).select("embedding").collect())
            assert len(distinct_rows) <= 50_000, "distinct set too big"
            D = np.array([list(r[0]) for r in distinct_rows])
            Dn = np.linalg.norm(D, axis=1)
            Dn[Dn == 0] = 1.0
            S = (D @ D.T) / np.outer(Dn, Dn)
            np.fill_diagonal(S, -1.0)
            max_distinct_cos = float(S.max())
            assert max_distinct_cos < pair_threshold, (
                f"exactdup truth premise violated: {max_distinct_cos}")
            n_exact = int(reps.selectExpr(
                "sum(count * (count - 1) / 2)").collect()[0][0] or 0)
            a = gmap.select(F.col("gid").alias("id_a"),
                            F.col("g").alias("g_a"))
            b = gmap.select(F.col("gid").alias("id_b"),
                            F.col("g").alias("g_b"))
            n_hit = (lsh_df.select("id_a", "id_b")
                     .join(a, "id_a").join(b, "id_b")
                     .filter(F.col("g_a") == F.col("g_b")).count())
            pairs = {
                "threshold": pair_threshold,
                "num_planes": pairs_planes, "num_tables": pairs_tables,
                "exact": ("analytic ground truth: identical-vector"
                          " cliques (replica fixture); premise"
                          " max distinct-pair cosine"
                          f" {max_distinct_cos:.4f} < τ asserted."
                          "  A DataFrame exact pair join is"
                          " infeasible at this scale: pivot blocking"
                          " degenerates to all-pairs on a uniform"
                          " corpus (every inter-point distance within"
                          " the 2r margin) — >50 GB spill at 200k"
                          " before kill.  That infeasibility is the"
                          " crossover evidence."),
                "exact_pairs": n_exact, "lsh_pairs": n_lsh,
                "recall": round(n_hit / n_exact, 4) if n_exact else 1.0,
                "precision": round(n_hit / n_lsh, 4) if n_lsh else 1.0,
                "exact_exec_sec": None, "lsh_exec_sec": l_exec,
                "max_distinct_cosine": round(max_distinct_cos, 4),
            }
        else:
            exact_df, p_exec = _timed_force(
                lambda: cosine_pairs_pivot(emb,
                                           threshold=pair_threshold))
            n_exact = exact_df.count()
            n_hit = exact_df.select("id_a", "id_b").join(
                lsh_df.select("id_a", "id_b"),
                ["id_a", "id_b"]).count()
            pairs = {
                "threshold": pair_threshold,
                "num_planes": pairs_planes, "num_tables": pairs_tables,
                "exact": ("cosine_pairs_pivot (provably exact blocked"
                          " join)"),
                "exact_pairs": n_exact, "lsh_pairs": n_lsh,
                "recall": round(n_hit / n_exact, 4) if n_exact else 1.0,
                "precision": round(n_hit / n_lsh, 4) if n_lsh else 1.0,
                "exact_exec_sec": p_exec, "lsh_exec_sec": l_exec,
            }

    doc = {
        "probe": "ann_recall_and_crossover",
        "sf_dir": sf_dir,
        "corpus_vectors": n_corpus,
        "k": K,
        "baseline_note": (
            "exact_arrow = brute_force_topk_arrow (exact Arrow kernel,"
            " per-batch partial top-k) — the fastest exact path, so"
            " approximate wins are real wins.  exact_fold_spec ="
            " brute_force_topk (the HOF oracle-checkable spec), for"
            " context at the smallest m only.  build_sec = DataFrame"
            " construction incl. eager training jobs; exec_sec ="
            f" median of {steady} timed run(s), each on a FRESH"
            " DataFrame lineage after a codegen warm-up collect — a"
            " re-collect of one lineage lets the DAG scheduler skip"
            " stages whose shuffle files exist and times only the"
            " post-shuffle tail.  All runs listed under 'runs'."
            "  Corpus cached (every path reads the same in-memory"
            " table); pq_arrow re-encodes corpus codes per run (the"
            " unindexed API), ivf_indexed_pruned re-reads the"
            " persisted index per run (the real query shape)."
            "  Both IVF rows run the JVM IVF the declared queries"
            " use: ivf_indexed_pruned = build_ivf_index +"
            " ivf_topk_indexed, sim_topk_ivf_declared = ivf_topk."
            "  recall_at_k is tie-robust (hit = approx cosine >="
            " exact k-th score - 1e-9, the ANN-benchmark standard"
            " - on replica fixtures exact ties order by last-ulp"
            " BLAS noise, so id-set overlap under-reads);"
            " recall_ids is the strict id-set overlap."),
        "gate": gate,
        "index_train_sec": {"pq": pq_train_sec,
                            "ivf_persisted_index": ivf_index_build_sec},
        "params": crossover_params,
        "sweep": results,
        "pairs_lsh_vs_pivot_exact": pairs,
    }
    line = json.dumps(doc)
    print(line)
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(doc, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
