#!/usr/bin/env python
"""sf0.1 soak: the PROBE-FED batch-arrival loop, end to end, repeated.

The full production serving composition the registered
``dedup_arrival_probe`` query pins for ONE arrival, driven through
FIVE arrival tiers with store maintenance riding every cycle:

    bootstrap: exact-dedup the initial standing corpus once (labels),
               build the MinHash store from it
    per arrival t:
      1. probe the store with the batch (batch x store + batch x batch
         candidates only; store x store never regenerated)
      2. exact-Jaccard VERIFY the candidates (jaccard_verify_pairs —
         sketch false positives die here, so the verified pairs are a
         subset of the exact pair set by construction)
      3. fold the verified pairs into the standing labels
         (connected_components_incremental — historical pairs never
         re-read)
      4. resolve the whole corpus under keep-longest
         (keep_best_per_cluster) and compare the kept set against a
         FROM-SCRATCH exact loop (jaccard_pairs over all docs seen so
         far -> CC -> same resolution)
      5. admit the batch into the store (append) and run
         store_maintain(max_batches=2, probe_grace_seconds=0)
         — compaction + vacuum inside the loop, the always-on cadence

Checked invariants, every cycle:
  - drops(incremental) SUBSET-OF drops(scratch) — no false drop; the
    verified-subset argument holds wherever jaccard_pairs' max_df cap
    is inactive (no shingle's corpus df exceeds 1000 — true of the
    sf0.1 documents table; on a cap-active corpus pass the rare
    frame to jaccard_verify_pairs, see its measure contract);
  - kept-set recall >= 0.9 (drops performed vs the exact loop's);
  - exact kept-set equality is REPORTED (it held on every recorded
    run; a miss is legal — a probe-missed pair is never re-probed
    once both ends are in the store, the documented permanent-miss
    class of incremental sketch serving).

Usage: python tools/soak_arrival_probe.py [sf_dir]
           [--store minhash|containment] [--policy keep_longest|keep_best]
           [--measure raw|blocked] [--revalidate]

``--store containment`` drives the SAME loop through the
LSH-Ensemble containment store (built/probed at threshold 0.8: a
Jaccard>=0.8 pair always has containment >= 0.8, so the ensemble's
candidate set covers the Jaccard truth and the exact-Jaccard verify
step reduces it to the same verified-subset shape).

``--measure blocked`` runs the loop at a CAP-ACTIVE corpus measure
(max_df=3 — the sf0.1 documents table's shingle df tops out at 4, so
the cap genuinely binds) with the verify step fed from a persisted
df store that rides the loop: the batch's df partial is admitted
BEFORE the verify (every doc's shingles count toward corpus df
whether dedup later keeps it or not — single-admission holds because
each doc arrives in exactly one batch), so ``df_store_rare`` serves
the EXACT corpus df at every arrival without a corpus rescan, and
each arrival's blocked verify measure equals that arrival's
``jaccard_pairs`` measure identically. store_maintain runs over the df
store every cycle alongside the sketch store's maintenance.

MEASURE DRIFT — why the truth is a REPLAY, not a one-shot: the
blocked measure is NOT time-monotone. Corpus growth pushes shingles
over the cap, so a pair that cleared >=0.8 under arrival t's measure
can fall below it under arrival t+k's (its blocking shingles left
the measured universe) — and the incremental loop, which by design
never re-reads historical pairs, keeps it. Verifying every arrival
against a ONE-SHOT final-measure truth therefore reports "false
drops" that are really the measure moving under the loop (first
observed live: 2/5000 docs at sf0.1, max_df=3 — the run is kept in
SCALE.md). The correct truth for a drifting measure is the replayed
union truth(t) = truth(t-1) UNION pairs(corpus_t, measure_t) — the
same replay the ``dedup_batch_arrival`` oracle performs — against
which the verified-subset argument holds EXACTLY per epoch: each
arrival's verified pairs are a subset of that arrival's exact pair
set, so the union dominates and no false drop is possible without a
real defect (store corruption, df double-count, sketch admitting a
sub-threshold pair). In raw mode the measure is corpus-independent,
the per-epoch pair sets are nested restrictions of the final one,
and the replayed union EQUALS the one-shot truth — so the replay is
the strictly more general truth and both modes use it.

``--revalidate`` (blocked mode only) closes the drift instead of
modeling it: each admission enumerates the shingles its df partial
pushed over the cap (``df_store_crossings`` — computed from the
store's partials, no corpus rescan) and re-verifies ONLY the
retained edges whose endpoints carry a crossed shingle
(``revalidate_pairs``; every other edge's measure is byte-identical
and passes through unread). Labels are then CC over the retained
edge list — the edges ARE the loop's state; the corpus is never
re-deduped. The surviving set is a subset of the CURRENT one-shot
exact pair set at every arrival, so this mode is judged against the
one-shot present-measure truth, the strictest comparator — the
measure-drift gap between incremental and from-scratch is GONE, at
the bounded cost of re-verifying the crossing-touched edges.

``--policy keep_best`` resolves clusters on the trained NB quality
log-odds instead of token length (the FineWeb-shaped loop the
registered ``dedup_arrival_policy`` query pins for one arrival):
the classifier RETRAINS on the corpus seen so far at every arrival —
both the incremental and the from-scratch side score with the same
freshly-trained model, so the comparison still isolates the
clustering path.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = [a for a in sys.argv[1:]]
    store_kind = "minhash"
    if "--store" in args:
        i = args.index("--store")
        store_kind = args[i + 1]
        del args[i:i + 2]
    policy = "keep_longest"
    if "--policy" in args:
        i = args.index("--policy")
        policy = args[i + 1]
        del args[i:i + 2]
    if policy not in ("keep_longest", "keep_best"):
        raise SystemExit(f"unknown --policy {policy}")
    measure = "raw"
    if "--measure" in args:
        i = args.index("--measure")
        measure = args[i + 1]
        del args[i:i + 2]
    if measure not in ("raw", "blocked"):
        raise SystemExit(f"unknown --measure {measure}")
    revalidate = "--revalidate" in args
    if revalidate:
        args.remove("--revalidate")
        if measure != "blocked":
            raise SystemExit("--revalidate requires --measure blocked")
    # raw mode: the engine-default cap, inactive on the sf0.1 corpus
    # (shingle df tops out at 4) — verify and truth agree trivially.
    # blocked mode: max_df=3 makes the cap ACTIVE; the df store serves
    # the exact corpus df to the verify step.
    max_df = 1000 if measure == "raw" else 3
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators import dedup as D
    from full_docker_etl_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
        jaccard_pairs,
        jaccard_verify_pairs,
        keep_best_per_cluster,
    )

    if store_kind == "minhash":
        store_build = D.minhash_store_build
        store_append = D.minhash_store_append

        def store_probe(batch, path):
            return D.minhash_probe_store(
                batch, path, "text", "doc_id", threshold=0.5
            )
    elif store_kind == "containment":
        def store_build(df, path, text_col, id_col):
            D.containment_store_build(df, path, text_col, id_col,
                                      threshold=0.8)
        store_append = D.containment_store_append

        def store_probe(batch, path):
            return D.containment_probe_store(
                batch, path, "text", "doc_id", threshold=0.8
            )
    else:
        raise SystemExit(f"unknown --store {store_kind}")
    from full_docker_etl_spark.session import default_parallelism, get_spark
    from full_docker_etl_spark.sources.catalog import load_table

    spark = get_spark(
        app_name="soak-arrival-probe",
        shuffle_partitions=default_parallelism(),
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text", "lang")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    toks_all = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    def score_frame(corpus):
        """Per-doc resolution attributes + ordering for the policy:
        keep-longest orders on token count; keep-best retrains the NB
        quality classifier on the corpus seen so far and orders on its
        log-odds (both sides of the comparison reuse ONE scored frame,
        so the model is identical across incremental and scratch)."""
        if policy == "keep_longest":
            attrs = toks_all.join(
                corpus.select("doc_id"), "doc_id", "left_semi"
            )
            return attrs, [F.col("n_tokens").desc()]
        from full_docker_etl_spark.operators.text import (
            nb_quality_classifier,
        )

        scored = nb_quality_classifier(
            corpus.withColumn("y", (F.col("lang") == "en").cast("int")),
            "text", "doc_id", "y",
        ).select("doc_id", "log_odds").localCheckpoint(eager=True)
        return scored, [F.col("log_odds").desc()]

    tier = F.col("doc_id") % 10
    standing_pred = tier >= 5  # initial corpus: tiers 5..9
    path = tempfile.mkdtemp(prefix="fde_soak_arr_") + "/store"
    df_path = tempfile.mkdtemp(prefix="fde_soak_df_") + "/dfstore"

    print(
        f"store family: {store_kind}; policy: {policy}; "
        f"measure: {measure} (max_df={max_df})"
        + ("; revalidate: on (one-shot truth)" if revalidate else "")
    )
    t0 = time.perf_counter()
    standing = docs.where(standing_pred)
    store_build(standing, path, "text", "doc_id")
    if measure == "blocked":
        D.df_store_build(standing, df_path, "text", "doc_id", n=5)
    exact0 = jaccard_pairs(
        standing, "text", "doc_id", n=5, threshold=0.8, max_df=max_df
    )
    labels = connected_components(exact0).localCheckpoint(eager=True)
    print(
        f"bootstrap: store build + exact dedup of standing corpus "
        f"{time.perf_counter() - t0:.1f} s"
    )

    seen_pred = standing_pred
    # the replayed-union truth (see the module docstring's MEASURE
    # DRIFT note): the union of each epoch's exact pair set under
    # that epoch's measure — equal to the one-shot truth in raw mode,
    # the only sound truth in blocked mode. With --revalidate the
    # loop instead keeps its RETAINED EDGE LIST current and is judged
    # against the strictest comparator: the one-shot present-measure
    # truth.
    truth_pairs = exact0.select("d1", "d2").localCheckpoint(eager=True)
    edges = truth_pairs
    all_ok = True
    for t in range(5):
        batch_pred = tier == t
        batch = docs.where(batch_pred)
        seen_pred = seen_pred | batch_pred
        corpus = docs.where(seen_pred)
        toks, order = score_frame(corpus)

        c0 = time.perf_counter()
        # blocked mode: admit the batch's df partial BEFORE the
        # verify — corpus df counts every doc seen (kept or dropped),
        # so the store now serves the EXACT df of `corpus` and the
        # blocked verify measure equals the from-scratch truth's
        rare = None
        crossings = None
        if measure == "blocked":
            D.df_store_append(batch, df_path, "text", "doc_id")
            rare = D.df_store_rare(spark, df_path, max_df, 5)
            if revalidate:
                # BEFORE maintenance folds the per-batch history away
                crossings = D.df_store_crossings(
                    spark, df_path, max_df, 5
                )
        cand = store_probe(batch, path).select(
            F.least("d1", "d2").alias("d1"),
            F.greatest("d1", "d2").alias("d2"),
        )
        verified = jaccard_verify_pairs(
            corpus, cand, "text", "doc_id", n=5, threshold=0.8, rare=rare
        ).select("d1", "d2")
        if revalidate:
            # re-verify only the crossing-touched retained edges,
            # admit the new ones, CC over the edge list (the edges
            # ARE the loop state; the corpus is never re-deduped)
            edges = (
                D.revalidate_pairs(
                    corpus, edges, "text", "doc_id", crossings, rare,
                    n=5, threshold=0.8,
                )
                .unionByName(verified)
                .distinct()
                .localCheckpoint(eager=True)
            )
            labels = connected_components(edges).localCheckpoint(
                eager=True
            )
        else:
            labels = connected_components_incremental(
                labels, verified
            ).localCheckpoint(eager=True)
        kept_inc = {
            r.doc_id
            for r in keep_best_per_cluster(toks, labels, order)
            .select("doc_id")
            .collect()
        }
        probe_s = time.perf_counter() - c0

        c1 = time.perf_counter()
        now_pairs = jaccard_pairs(
            corpus, "text", "doc_id", n=5, threshold=0.8, max_df=max_df
        ).select("d1", "d2")
        if revalidate:
            # strictest comparator: the one-shot truth under the
            # PRESENT measure — revalidation keeps the loop inside it
            truth_pairs = now_pairs.localCheckpoint(eager=True)
        else:
            truth_pairs = (
                truth_pairs.unionByName(now_pairs)
                .distinct()
                .localCheckpoint(eager=True)
            )
        scratch_labels = connected_components(truth_pairs)
        kept_scratch = {
            r.doc_id
            for r in keep_best_per_cluster(toks, scratch_labels, order)
            .select("doc_id")
            .collect()
        }
        scratch_s = time.perf_counter() - c1

        corpus_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
        drops_inc = corpus_ids - kept_inc
        drops_scr = corpus_ids - kept_scratch
        false_drops = drops_inc - drops_scr
        recall = (
            len(drops_inc & drops_scr) / len(drops_scr) if drops_scr else 1.0
        )
        ok = not false_drops and recall >= 0.9
        all_ok &= ok

        c2 = time.perf_counter()
        store_append(batch, path, "text", "doc_id")
        maint = D.store_maintain(
            spark, path, max_batches=2, probe_grace_seconds=0.0
        )
        if measure == "blocked":
            D.store_maintain(
                spark, df_path, max_batches=2, probe_grace_seconds=0.0
            )
        admit_s = time.perf_counter() - c2
        print(
            f"arrival {t}: kept {len(kept_inc)}/{len(corpus_ids)} "
            f"(scratch {len(kept_scratch)}), drops {len(drops_inc)} vs "
            f"{len(drops_scr)}, false_drops {len(false_drops)}, "
            f"drop-recall {recall:.3f}, "
            f"exact-equal {kept_inc == kept_scratch}; "
            f"probe+resolve {probe_s:.1f} s, scratch {scratch_s:.1f} s, "
            f"admit+maintain {admit_s:.1f} s "
            f"(compacted={maint['compacted']}, "
            f"vacuumed={len(maint['vacuumed'])}, "
            f"committed={maint['after']['committed_batches']}) "
            f"{'OK' if ok else 'FAIL'}"
        )

    print("SOAK", "OK" if all_ok else "FAIL")
    spark.stop()
    return 0 if all_ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
