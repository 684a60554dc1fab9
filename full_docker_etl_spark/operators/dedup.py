"""Deduplication operators for large-scale training-data pipelines.

Four tiers, each with a different cost/recall point (all designed so
the candidate-pair set stays bounded — NO all-pairs comparison ever):

- :func:`exact_dedup` — content-hash groupBy. One shuffle on the hash;
  at 100 TB this is the cheapest and always runs first.
- :func:`jaccard_pairs` — exact n-gram Jaccard over candidate pairs
  blocked by *shared shingles*, with a frequent-shingle cap (posting
  lists longer than ``max_df`` are dropped, which bounds the join
  fan-out the same way stop-word removal bounds an inverted index).
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash+LSH
  banding: candidates = pairs agreeing on ≥1 band bucket. Probability
  of detection ≈ 1-(1-j^r)^b; with k=32, b=8, r=4 the S-curve centers
  near j≈0.6. Pure built-ins (xxhash64 + aggregate), no UDF.
- :func:`simhash` — 64-bit SimHash; near-dups = small Hamming
  distance; blocked by Manku-style block-combination keys (a pair
  within distance d must agree on some (b-d)-of-b block subset —
  pigeonhole; b is the corpus-size dial).

MinHash/SimHash use engine-internal hash functions, so they register
rows-only driver checks; the exact Jaccard tier is the oracle-checked
representative (its SQL runs on DuckDB unchanged in spirit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# Shingling/sketching is CPU-bound per row; a one-partition scan would
# serialize the whole tier on one core (see operators/util.spread).
from full_docker_etl_spark.operators.util import concurrently, rebalanced
from full_docker_etl_spark.operators.util import spread as _spread
from full_docker_etl_spark.sources.catalog import (
    atomic_write,
    commit_lock,
    data_schema,
    read_parquet,
)


def content_hash(col: Column) -> Column:
    """Stable content fingerprint for exact dedup. sha2-256 — collision
    probability at 100 TB (~1e11 docs) is ~1e-55; safe as identity."""
    return F.sha2(col, 256)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups: hash → groupBy → keep min-id canonical
    row. Returns (hash, canonical id, n_dups); join back on hash to
    drop duplicates. One shuffle on the hash key — at scale, hash
    first so the shuffle moves 64-byte keys, not documents."""
    return (
        df.select(content_hash(F.col(text_col)).alias("content_sha"), F.col(id_col))
        .groupBy("content_sha")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def shingles(df: DataFrame, text_col: str, id_col: str, n: int = 5) -> DataFrame:
    """Distinct word n-gram shingles per document. Distinctness is
    per-document, so it is enforced INSIDE the row (array_distinct
    before explode) — the exploded-then-``.distinct()`` formulation
    shuffles every (doc, 45-char shingle) pair for the same result."""
    return shingle_arrays(df, text_col, id_col, n).select(
        "doc_id", F.explode("sh_arr").alias("shingle")
    )


def _hashed_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    spread: bool = True,
) -> DataFrame:
    """Per-doc DISTINCT n-gram shingles as exploded ``(doc_id, sh)``
    rows with ``sh`` = xxhash64 of the shingle string — THE shared
    measure-space every set-overlap consumer must agree on
    (:func:`_blocked_shared_counts`'s blocking+sizes,
    :func:`jaccard_verify_pairs`' blocked mode, the df store's
    partials). ONE definition so the sites cannot silently diverge on
    hashing or normalization — the rare-mode agreement contract
    depends on all of them hashing identically. Unpersisted: callers
    persist when they fan out. ``spread=False``: see
    :func:`shingle_arrays`."""
    return shingle_arrays(df, text_col, id_col, n, spread=spread).select(
        "doc_id",
        F.explode(
            F.transform("sh_arr", lambda s: F.xxhash64(s))
        ).alias("sh"),
    )


# Budget for the in-row posting-list pair generation: the DEFAULT cap's
# worst case (1000·999/2 structs ≈ 8-16 MB in one row — measured fine).
# A caller-raised max_df whose quadratic fan-out exceeds this budget
# switches _blocked_shared_counts to the chunked generation, which
# bounds EVERY generated row to ~this many structs regardless of cap.
_PAIR_GEN_ROW_BUDGET = 1000 * 999 // 2


def _posting_pair_rows(posts: DataFrame, max_df: int) -> DataFrame:
    """Candidate (d1, d2) rows — one per shared shingle, duplicates
    included — generated IN-ROW from a per-shingle sorted doc-list
    frame ``(sh, ds)`` (the r18 posting-list rewrite: the old sh⋈sh
    self-join planned both sides as separate full-frame hash exchanges
    and re-ran the upstream rare join per side). Element i pairs with
    every later element, so d1 < d2 by construction (ids are
    per-doc-distinct within a list). Factored out of
    :func:`_blocked_shared_counts` (which counts the duplicates into
    shared-shingle counts). NOTE (r19): applying this form to the
    CANDIDATE-ONLY df-store consumers (replacing their persisted
    sh⋈sh self-joins) measured a wash-to-loss in two A/B draws —
    on a judge-slice-sized in-cap frame the persisted self-join is
    already cheap, and the groupBy/collect/explode/distinct chain
    costs more than the avoided second shuffle; those sites keep the
    self-join.

    Worst case at the default cap is max_df·(max_df-1)/2 structs in
    one row before the explode — ~500k pairs (~8-16 MB), the same
    per-key fan-out the self-join produced inside one hash partition.
    The cost is QUADRATIC in a caller-settable max_df, so a raised cap
    must not inflate single rows without bound (a 10k cap would build
    ~50M-struct rows — a §5 memory cliff the old self-join never had):
    past the default-cap budget the d1 index space is CHUNKED first
    (one intermediate row per w-wide slice of the list, w sized so
    every generated row stays within the same ~500k-struct budget),
    which spreads the fan-out across rows exactly like the self-join
    did while keeping the single-exchange shape."""
    if max_df * (max_df - 1) // 2 <= _PAIR_GEN_ROW_BUDGET:
        pair_arr = F.flatten(
            F.transform(
                "ds",
                lambda x, i: F.transform(
                    F.slice(F.col("ds"), i + F.lit(2), F.size("ds") - i - F.lit(1)),
                    lambda y: F.struct(x.alias("d1"), y.alias("d2")),
                ),
            )
        )
        pair_rows = posts.select(F.explode(pair_arr).alias("p"))
    else:
        w = max(1, _PAIR_GEN_ROW_BUDGET // max_df)
        # d1 positions 0..size-2 (0-based) in chunks of w; the where()
        # guards the sequence (Spark's sequence DESCENDS on a negative
        # span — the word_ngrams trap), and a chunk's d1 slice may
        # overrun into the final element, whose partner slice is then
        # empty — no spurious pairs.
        chunks = posts.where(F.size("ds") >= 2).select(
            "ds",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor(
                        (F.size("ds") - F.lit(2)) / F.lit(w)
                    ).cast("int"),
                )
            ).alias("ci"),
        )
        chunk_pairs = F.flatten(
            F.transform(
                F.slice("ds", F.col("ci") * F.lit(w) + F.lit(1), F.lit(w)),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("ds"),
                        F.col("ci") * F.lit(w) + i + F.lit(2),
                        F.size("ds"),
                    ),
                    lambda y: F.struct(x.alias("d1"), y.alias("d2")),
                ),
            )
        )
        pair_rows = chunks.select(F.explode(chunk_pairs).alias("p"))
    return pair_rows.select("p.d1", "p.d2")


def _blocked_shared_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_df: int,
) -> DataFrame:
    """Shared machinery for the set-overlap dedup family
    (:func:`jaccard_pairs`, :func:`containment_pairs`): per candidate
    pair (d1 < d2, blocked by a shared rare shingle) the shared
    distinct-shingle count and both docs' shingle-set sizes —
    (d1, d2, shared, n1, n2). The measures differ only in the final
    arithmetic/filter.

    Scale posture: the candidate fan-out is Σ df(s)² over shingles;
    the ``max_df`` cap (drop shingles appearing in more documents)
    bounds it at |shingles|·max_df² — the standard posting-list cap.
    5-gram shingles are distinctive enough that true near-dups always
    share rare shingles.
    """
    # Join/shuffle on a 64-bit shingle hash, not the ~45-char string:
    # smaller exchanges and cheaper comparisons. Collision risk over m
    # distinct shingles is ~m²/2^64 (≈1e-7 at 10^6 shingles) — shared
    # counts are unaffected in practice. The hash is applied INSIDE the
    # per-doc array, so no string shingle ever leaves its source row —
    # the first exchange already carries (doc_id, long). Persisted
    # SERIALIZED with disk spill (the module convention for
    # corpus-scale shingle frames — exploded (doc_id, sh) is
    # O(corpus-shingles), where the deserialized default would pin
    # executor heap): the frame feeds the df-filter and the join's
    # probe side.
    from pyspark import StorageLevel

    sh = _hashed_shingles(df, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # The rare-shingle set is ~all distinct shingles (corpus-sized at
    # 100 TB), so it must NOT be hinted broadcast — max_df caps how
    # often a shingle may appear, not how many shingles exist. Both
    # sides are already hash-partitioned by `sh` from the groupBy, and
    # AQE still converts to broadcast at runtime when actually small.
    # The count pass runs BEFORE any posting list is buffered: a
    # boilerplate shingle with corpus df in the millions is counted
    # (partial map-side aggregation, a few bytes per distinct shingle)
    # and dropped — it never builds a million-element list in an
    # aggregation buffer. That ordering is the 100 TB armor; only
    # in-cap shingles (≤ max_df docs) reach the collect below.
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("sh")
    )
    # POSTING LISTS instead of a shingle self-join (r18 optimization):
    # after the rare filter the frame is grouped once per shingle into
    # a bounded (≤ max_df) sorted doc list, and candidate pairs are
    # generated IN-ROW from each list. The old a⋈b self-join planned
    # its two sides as separate full-frame hash exchanges AND
    # recomputed the rare join per side (projection aliases defeat
    # exchange reuse) — measured as 3-4 extra full-corpus-shingle
    # shuffle passes per evaluation. The posting form pays exactly one
    # full-frame exchange (the rare join / groupBy share it: a
    # shuffled join leaves the frame hash-partitioned by `sh`, so the
    # collect_list collapses in place), then everything downstream is
    # bounded by the cap. Persisted because BOTH the pair fan-out and
    # the size table re-read it.
    posts = (
        sh.join(rare, "sh")
        .groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # per-doc sizes over the SAME in-cap universe the pairs see:
    # re-exploding the bounded lists costs one partial-aggregated
    # exchange of (doc_id, count) partials — it replaces the old
    # third full re-execution of the rare join
    sizes = (
        posts.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    shared = (
        _posting_pair_rows(posts, max_df)
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_shingles").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_shingles").alias("n2"))
    return (
        shared.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", "shared", "n1", "n2")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, blocked by shared rare
    shingles (scale posture in :func:`_blocked_shared_counts`)."""
    return (
        _blocked_shared_counts(df, text_col, id_col, n, max_df)
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("d1", "d2", "shared", "n1", "n2", "jaccard")
    )


def jaccard_verify_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    threshold: float = 0.8,
    rare: DataFrame | None = None,
) -> DataFrame:
    """EXACT-Jaccard verification of sketch candidate pairs — the
    verify half of every LSH serving loop (probe emits candidates,
    verify computes the true measure on candidates ONLY). Returns
    ``(d1, d2, shared, n1, n2, jaccard)`` for candidate pairs whose
    exact n-gram Jaccard clears ``threshold``.

    MEASURE CONTRACT (load-bearing for the no-false-drop argument):
    by default the Jaccard is over ALL distinct shingles — the raw
    similarity. :func:`jaccard_pairs` measures over the RARE-filtered
    universe (shingles with corpus df ≤ ``max_df`` — its posting-list
    cap drops boilerplate shingles from both the blocking AND the
    measured sizes), so the two agree EXACTLY wherever the cap is
    inactive (no shingle's corpus df exceeds ``max_df`` — true on any
    judge slice bounded below the cap, which is how the
    ``dedup_arrival_probe`` verdict stays deterministic at every
    corpus size), and on a cap-active corpus the raw verify can admit
    boilerplate-heavy pairs the blocked measure attenuates — it errs
    toward MORE dedup, against the true similarity, never less. A
    caller that needs verification in EXACT agreement with the
    blocked measure (e.g. to compare against a `jaccard_pairs` truth
    tier on a cap-active corpus) passes ``rare`` — the
    (``sh``: xxhash64 of shingle) frame of in-cap shingles, the same
    frame the blocked pass derives — and verification then computes
    the identical filtered measure on candidates only. With either
    measure the output is a SUBSET of the same-measure exact pair
    set, so downstream cluster resolution can only FRAGMENT true
    clusters (sketch recall < 1), never falsely merge documents the
    measure calls distinct.

    CROSS-EPOCH caveat (observed live, tools/soak_arrival_probe.py
    --measure blocked at sf0.1): the subset property is per POINT IN
    TIME. The blocked measure depends on corpus df, so it DRIFTS as
    a corpus grows — a shingle crossing the cap retroactively
    removes itself from the measured universe, and a pair that
    cleared the threshold under an earlier epoch's measure can fall
    below it under a later one. An arrival loop that accumulates
    verified pairs across epochs (and by design never re-reads them)
    must therefore be judged against the REPLAYED union of per-epoch
    exact pair sets, not a one-shot final-measure truth — against
    the replay the subset argument holds exactly per epoch and
    drops(incremental) remains a subset of drops(truth). The raw
    measure is corpus-independent and has no such epoch structure.

    Scale shape: shingle arrays are computed for CANDIDATE endpoints
    only (semi-join against the candidate id set — never the corpus),
    the candidate list is bounded by the probe's band-bucket caps,
    and the per-pair intersection is in-row array arithmetic. The
    candidate side is assumed small relative to the corpus (it is a
    probe output); the id semi-join broadcasts it. ``rare`` is
    corpus-sized at 100 TB and therefore NOT broadcast — the filter
    join is hash-partitioned on the shingle key."""
    cand = candidates.select("d1", "d2").distinct()
    ids = (
        cand.select(F.col("d1").alias("_vid"))
        .unionByName(cand.select(F.col("d2").alias("_vid")))
        .distinct()
    )
    # spread the NARROW corpus side before the semi-join (the
    # broadcast join preserves its partitioning), and build shingles
    # with spread=False: spreading the joined frame instead would
    # probe its partition count via .rdd, which under AQE executes the
    # whole candidate/ids subtree once for the probe and again in the
    # real action (see :func:`shingle_arrays`).
    needed = _spread(df).join(
        F.broadcast(ids), F.col(id_col) == F.col("_vid"), "left_semi"
    )
    sh = shingle_arrays(needed, text_col, id_col, n, spread=False)
    if rare is not None:
        # blocked-measure mode: the SHARED hashed-shingle space
        # (:func:`_hashed_shingles`) filtered to in-cap shingles,
        # refolded to per-doc sets. A doc with NO in-cap shingles
        # drops out entirely — consistent with the blocked pass,
        # which has no size row for it either.
        sh = (
            _hashed_shingles(needed, text_col, id_col, n, spread=False)
            .join(rare.select("sh"), "sh")
            .groupBy("doc_id")
            .agg(F.collect_set("sh").alias("sh_arr"))
        )
    # the per-doc frame feeds BOTH pair sides: persist so neither the
    # shingle compute nor (rare mode) the corpus-sized rare join runs
    # twice — candidate-bounded, so the footprint is small (the
    # module's _blocked_shared_counts convention)
    from pyspark import StorageLevel

    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    a1 = sh.select(F.col("doc_id").alias("d1"), F.col("sh_arr").alias("_a1"))
    a2 = sh.select(F.col("doc_id").alias("d2"), F.col("sh_arr").alias("_a2"))
    shared = F.size(F.array_intersect(F.col("_a1"), F.col("_a2")))
    n1, n2 = F.size("_a1"), F.size("_a2")
    return (
        cand.join(a1, "d1")
        .join(a2, "d2")
        .select(
            "d1",
            "d2",
            shared.alias("shared"),
            n1.alias("n1"),
            n2.alias("n2"),
            # try_divide: both-empty candidates (0/0) yield NULL and
            # fall out of the threshold filter instead of an ANSI
            # divide-by-zero error
            F.try_divide(shared, n1 + n2 - shared).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    threshold: float = 0.9,
    max_df: int = 1000,
) -> DataFrame:
    """ASYMMETRIC containment near-dup pairs (Broder's c(A,B) =
    |sh(A) ∩ sh(B)| / |sh(A)|): keep pairs where EITHER document's
    shingle set is ≥ ``threshold`` contained in the other's. The
    modality Jaccard structurally misses: a short document quoted
    verbatim inside a long aggregator page has containment 1.0 but
    Jaccard ≈ |short|/|long| — far below any sane symmetric
    threshold. Training corpora de-duplicated only by Jaccard keep
    every such quotation; containment is the standard companion
    measure (same shingle machinery, different final arithmetic).

    Returns (d1, d2, shared, n1, n2, c1, c2) with d1 < d2 and
    c1 = shared/n1 (containment of d1 in d2), c2 = shared/n2; the
    filter is greatest(c1, c2) ≥ threshold. Blocking, hashing, and
    the posting-list cap are :func:`_blocked_shared_counts`'s —
    identical scale posture to :func:`jaccard_pairs`."""
    c1 = F.col("shared") / F.col("n1")
    c2 = F.col("shared") / F.col("n2")
    return (
        _blocked_shared_counts(df, text_col, id_col, n, max_df)
        .withColumn("c1", c1)
        .withColumn("c2", c2)
        .where(F.greatest(F.col("c1"), F.col("c2")) >= threshold)
        .select("d1", "d2", "shared", "n1", "n2", "c1", "c2")
    )


def _ensemble_gap_specs(
    threshold: float,
    k: int,
    target_recall: float,
    floor_recall: float,
    max_gap: int | None = None,
) -> list[tuple[int, int, int]]:
    """Per-size-partition-gap band tuning for :func:`containment_lsh_pairs`
    (the LSH Ensemble construction, Zhu et al., VLDB 2016): documents are
    size-partitioned geometrically (partition = floor(log2(|shingles|))),
    and a probe of size a targeting the partition ``gap`` steps above its
    own faces a worst-case equivalent Jaccard of

        J_min(gap) = t / (1 + 2^(gap+1) - t)

    (containment t of the smaller set in the larger, sizes a ≥ 2^p and
    b < 2^(p+gap+1) ⇒ J = t·a/(a+b-t·a) > t/(1+2^(gap+1)-t)). For each
    gap this picks the most selective rows-per-band r ∈ {8,4,2,1} whose
    k/r bands still reach ``target_recall`` at J_min — selective banding
    (large r) minimizes false-positive candidates, which matters most
    for same-size pairs where J is highest. When even r=1 with all k
    bands cannot reach the target, the gap is included best-effort while
    the achievable worst-case recall stays ≥ ``floor_recall``; beyond
    that the ensemble STOPS — pairs with a size ratio past the last
    covered gap are this tier's documented truncation (the exact
    :func:`containment_pairs` tier has no such cutoff; SCALE.md).

    ``max_gap`` makes that cutoff an explicit contract instead of a
    derived one: when given, gaps 0..max_gap are covered and nothing
    beyond — a cap BELOW the floor-derived bound trades recall range
    for fewer probe rows (cost control), a cap ABOVE it extends
    coverage best-effort with all k bands at r=1, accepting whatever
    worst-case recall 1-(1-J_min(gap))^k decays to (the
    tweet-quoted-in-book shape: at t=0.9, k=32 that is ~0.56 at gap 4,
    ~0.33 at gap 5 — better than the silent 0.0 of a truncated gap,
    and the caller opted in). ``max_gap=None`` (default) keeps the
    floor-derived bound.

    Pure driver-side arithmetic on parameters — no data touched.
    Returns [(gap, r, n_bands), ...]; at the defaults (t=0.9, k=32,
    target 0.95, floor 0.8, max_gap None) this is [(0,2,15), (1,1,13),
    (2,1,26), (3,1,32)] — size-ratio-16+ pairs (gap ≥ 4) are past the
    cutoff."""
    import math

    # The floor is what terminates the gap loop (achievable recall is
    # strictly positive at every gap, so floor<=0 would spin forever),
    # and threshold=0 makes J_min=0 (log-of-1 division) — validate both
    # loudly instead of hanging the driver.
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if not 0.0 < floor_recall <= target_recall < 1.0:
        raise ValueError(
            "need 0 < floor_recall <= target_recall < 1, got "
            f"floor={floor_recall}, target={target_recall}"
        )
    if max_gap is not None and max_gap < 0:
        raise ValueError(f"max_gap must be >= 0 or None, got {max_gap}")

    specs: list[tuple[int, int, int]] = []
    gap = 0
    while max_gap is None or gap <= max_gap:
        j_min = threshold / (1.0 + 2.0 ** (gap + 1) - threshold)
        chosen = None
        for r in (8, 4, 2, 1):
            p_band = j_min**r
            if p_band >= 1.0:  # degenerate (threshold ~1, gap 0)
                chosen = (r, 1)
                break
            if p_band == 0.0:  # underflow at wide max_gap: r hopeless
                continue
            # log1p, not log(1-p): at wide gaps (max_gap extension)
            # j_min^r underflows 1-p to 1.0 and log(1.0)=0 divides by
            # zero, where log1p keeps the tiny negative magnitude
            b_needed = math.ceil(
                math.log(1.0 - target_recall) / math.log1p(-p_band)
            )
            if b_needed <= k // r:
                chosen = (r, b_needed)
                break
        if chosen is None:
            # best-effort tail: all k bands at r=1, while worst-case
            # recall 1-(1-J)^k still clears the floor — unless the
            # caller pinned max_gap, which overrides the floor cutoff
            # (explicit opt-in to decayed recall at wide gaps)
            achievable = 1.0 - (1.0 - j_min) ** k
            if max_gap is None and achievable < floor_recall:
                break
            chosen = (1, k)
        specs.append((gap, chosen[0], chosen[1]))
        gap += 1
    return specs


def _minhash_fold(arr: Column, k: int) -> Column:
    """THE k-minhash running-min fold, shared by the symmetric tier
    (:func:`minhash_signature_array`, over shingle strings) and the
    containment ensemble (:func:`_ensemble_docs`, over pre-hashed
    shingle longs) — the i-th hash function is xxhash64 seeded with i
    over the element (any type), the accumulator a k-element running
    min, so every element is traversed once and contributes to all k
    functions via zip_with. ONE definition on purpose: a seeding or
    hash-family change applied to one copy would silently make stored
    and fresh sketches incomparable — exactly what the store tiers'
    ``_meta.json`` validation exists to prevent. Empty arrays yield
    max-long sentinels."""
    seeds = F.array(*[F.lit(i) for i in range(k)])
    max_long = (1 << 63) - 1
    return F.aggregate(
        arr,
        F.array_repeat(F.lit(max_long), k),
        lambda acc, s: F.zip_with(
            acc, seeds, lambda a, i: F.least(a, F.xxhash64(s, i))
        ),
    )


def _ensemble_docs(
    df: DataFrame, text_col: str, id_col: str, n: int, k: int
) -> DataFrame:
    """Per-document ensemble state: (doc_id, harr, sz, sig, p) — the
    hashed distinct-shingle array (verification side), its size, the
    k-minhash signature (one in-row :func:`_minhash_fold` over the
    pre-hashed shingles), and the geometric size partition
    floor(log2(sz)). Zero-shingle docs are dropped (nothing to
    contain or be contained in)."""
    sig = _minhash_fold(F.col("harr"), k)
    return (
        shingle_arrays(df, text_col, id_col, n)
        .where(F.size("sh_arr") > 0)
        .select(
            "doc_id",
            F.transform("sh_arr", lambda s: F.xxhash64(s)).alias("harr"),
        )
        .select("doc_id", "harr", F.size("harr").alias("sz"))
        .select(
            "doc_id", "harr", "sz", sig.alias("sig"),
            F.floor(F.log2("sz")).cast("int").alias("p"),
        )
    )


def _ensemble_rows(
    docs: DataFrame, schemes: list[tuple[int, int, int]]
) -> DataFrame:
    """Band-bucket rows (doc_id, sz, p, r, band, bucket) for a list of
    (partition_shift, r, n_bands) schemes — shift 0 for index rows
    (a doc is indexed in its OWN partition), shift=gap for probe rows
    (a doc probes LARGER partitions). ONE scan of ``docs`` for every
    scheme: each row explodes a literal array of the schemes, then
    ``sequence(0, n_bands-1)`` for that scheme's bands, and hashes one
    ``xxhash64(slice(sig, band*r+1, r))`` per output row — so the
    projection holds one hash whatever the scheme count (no
    whole-stage-codegen method-budget overflow, which an in-row array
    of every band's hash hits) and a persisted input is scanned once
    instead of once per scheme (each scan of a cached frame is its own
    materialization job under AQE). Columns, types and bucket values
    must not change: persisted stores written by earlier releases are
    probed with them (pinned against the per-scheme union by a test).
    Input must be materialized (cache or parquet) or projection
    collapse re-inlines the k-hash signature fold into the bucket hash
    (the :func:`_band_rows` caveat)."""
    scheme = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(shift).alias("shift"),
                    F.lit(r).alias("r"),
                    F.lit(nb).alias("nb"),
                )
                for shift, r, nb in schemes
            ]
        )
    ).alias("s")
    return (
        docs.select("doc_id", "sz", "p", "sig", scheme)
        .select(
            "doc_id", "sz",
            (F.col("p") + F.col("s.shift")).alias("p"),
            F.col("s.r").alias("r"), "sig",
            F.explode(
                F.sequence(F.lit(0), F.col("s.nb") - 1)
            ).alias("band"),
        )
        .select(
            "doc_id", "sz", "p", "r", "band",
            F.xxhash64(
                F.slice("sig", F.col("band") * F.col("r") + 1, F.col("r"))
            ).alias("bucket"),
        )
    )


def _ensemble_index_schemes(
    specs: list[tuple[int, int, int]],
) -> list[tuple[int, int, int]]:
    """Index-side schemes: one per distinct r any probe uses, at the
    max band count that r is probed at, shift 0 (own partition)."""
    bands_per_r: dict[int, int] = {}
    for _gap, r, nb in specs:
        bands_per_r[r] = max(bands_per_r.get(r, 0), nb)
    return [(0, r, nb) for r, nb in sorted(bands_per_r.items())]


def _ensemble_verify(
    cand: DataFrame, lookup: DataFrame, threshold: float
) -> DataFrame:
    """Exact containment verification of candidate (d1, d2[, extra])
    rows against a (doc_id, harr, sz) lookup frame: array_intersect of
    the hashed-shingle arrays, both containments, greatest ≥ threshold.
    Extra candidate columns ride through."""
    extra = [c for c in cand.columns if c not in ("d1", "d2")]
    h1 = lookup.select(
        F.col("doc_id").alias("d1"),
        F.col("harr").alias("h1"), F.col("sz").alias("n1"),
    )
    h2 = lookup.select(
        F.col("doc_id").alias("d2"),
        F.col("harr").alias("h2"), F.col("sz").alias("n2"),
    )
    return (
        cand.join(h1, "d1")
        .join(h2, "d2")
        .withColumn("shared", F.size(F.array_intersect("h1", "h2")))
        .withColumn("c1", F.col("shared") / F.col("n1"))
        .withColumn("c2", F.col("shared") / F.col("n2"))
        .where(F.greatest(F.col("c1"), F.col("c2")) >= threshold)
        .select("d1", "d2", *extra, "shared", "n1", "n2", "c1", "c2")
    )


def containment_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    k: int = 32,
    threshold: float = 0.9,
    target_recall: float = 0.95,
    floor_recall: float = 0.8,
    max_bucket: int = 200,
    max_gap: int | None = None,
) -> DataFrame:
    """LSH Ensemble sketch tier for ASYMMETRIC containment dedup
    (Zhu et al., VLDB 2016) — the sub-quadratic candidate generator for
    :func:`containment_pairs` (same measure: greatest(c1, c2) ≥
    ``threshold``). Symmetric MinHash LSH is tuned for Jaccard and
    structurally misses the short-doc-quoted-in-long-page pairs
    containment targets (their Jaccard ≈ |short|/|long|); the ensemble
    fixes this by partitioning documents by shingle-set size (geometric:
    partition = floor(log2(size))) and probing each LARGER partition
    with banding tuned to that partition's worst-case equivalent
    Jaccard (:func:`_ensemble_gap_specs` — more bands / smaller rows
    for larger size gaps).

    Shape: every document emits O(k) index rows banded per scheme, and
    each smaller-side document emits probe rows into its own and the
    covered larger partitions — O(k · #gaps) rows of (partition, r,
    band, 64-bit bucket, id, size) per document, proportional to
    document COUNT, never corpus text. Candidates are bucket collisions
    only (inner join on the bucket key); buckets larger than
    ``max_bucket`` index entries are dropped (boilerplate-dominated
    minhash values — the posting-cap idiom of :func:`jaccard_pairs`
    applied to sketch buckets). Candidates are then verified EXACTLY
    (array_intersect on the per-doc hashed-shingle arrays), so
    precision is 1.0 by construction and only candidate-generation
    recall is approximate.

    Semantics note vs :func:`containment_pairs`: sizes/shared counts
    here are over ALL distinct shingles — the sketch tier has no global
    document-frequency pass by design (that pass IS the exact tier's
    shuffle), so the ``max_df`` posting filter does not apply. Pairs
    with size ratio beyond the last covered gap (16x at the defaults)
    are the tier's documented truncation; ``max_gap`` pins that cutoff
    explicitly — raise it to chase wider-ratio pairs
    (tweet-quoted-in-book) at best-effort recall, lower it to shed
    probe rows; see :func:`_ensemble_gap_specs` and SCALE.md.

    Returns (d1, d2, shared, n1, n2, c1, c2), d1 < d2 — the
    :func:`containment_pairs` contract."""
    from pyspark import StorageLevel

    specs = _ensemble_gap_specs(
        threshold, k, target_recall, floor_recall, max_gap
    )

    # One corpus scan feeds four consumers (index bands, probe bands,
    # both verify sides) — persisted SERIALIZED with disk spill: the
    # frame carries the per-doc hashed-shingle array (corpus-scale at
    # 100 TB), where the deserialized default would pin executor heap.
    # Release is the caller's (bench clears caches between queries).
    docs = _ensemble_docs(df, text_col, id_col, n, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # INDEX side: each doc banded in its OWN partition, once per
    # distinct r-scheme any probe may use. PROBE side: each doc probes
    # partition p+gap with that gap's (r, n_bands) tuning — the
    # per-partition band tuning that makes the ensemble catch
    # low-equivalent-Jaccard containment pairs.
    index = _ensemble_rows(docs, _ensemble_index_schemes(specs))
    probe = _ensemble_rows(docs, specs)

    key = ["p", "r", "band", "bucket"]
    # Bucket cap: a bucket with > max_bucket index entries is dominated
    # by one ubiquitous minhash value (boilerplate); it carries no
    # discriminative signal and its fan-out is quadratic. Kept-keys
    # inner join, the `rare` idiom of _blocked_shared_counts.
    kept = (
        index.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .where(F.col("_bn") <= max_bucket)
        .select(*key)
    )
    a = probe.select(
        F.col("doc_id").alias("ds"), F.col("sz").alias("zs"), *key
    )
    b = index.join(kept, key).select(
        F.col("doc_id").alias("dl"), F.col("sz").alias("zl"), *key
    )
    cand = (
        a.join(b, key)
        # smaller probes larger; equal sizes pair both ways and collapse
        # under the (least, greatest) normalization + distinct
        .where(
            (F.col("zs") < F.col("zl"))
            | ((F.col("zs") == F.col("zl")) & (F.col("ds") != F.col("dl")))
        )
        .select(
            F.least("ds", "dl").alias("d1"),
            F.greatest("ds", "dl").alias("d2"),
        )
        .distinct()
    )

    return _ensemble_verify(cand, docs, threshold)


def containment_store_build(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n: int = 5,
    k: int = 32,
    threshold: float = 0.9,
    target_recall: float = 0.95,
    floor_recall: float = 0.8,
    max_bucket: int = 200,
    max_gap: int | None = None,
) -> None:
    """Build the PERSISTENT LSH-Ensemble store for INCREMENTAL
    containment dedup — the :func:`minhash_store_build` pattern applied
    to the asymmetric tier: at 100 TB each arriving batch probes the
    corpus's persisted sketch, the corpus is never re-sketched. Writes
    under ``path``:

    - ``/docs``  (doc_id, harr, sz, sig, p) — verification arrays +
      signatures; fetched per candidate only.
    - ``/bands`` (doc_id, sz, p, r, band, bucket), hive-partitioned by
      ``side``: ``side=i`` is the corpus banded in its OWN size
      partitions (what batch probes collide into); ``side=p`` is the
      corpus's gap-shifted probe rows (what collides into BATCH index
      rows: containment is asymmetric, so a stored short doc must
      still find a NEW long page that quotes it — the direction a
      symmetric store would silently drop). One table so build/append
      pay one banding pass + one write; readers partition-prune.
    - ``/counts`` (p, r, band, bucket, cnt) — index-bucket occupancy,
      rolled up at build/append time so probes never rescan the index
      to enforce the ``max_bucket`` cap.

    Crash safety and visibility are :func:`_store_write`'s: a retried
    append can never double-count bucket occupancy or duplicate sketch
    rows.

    Parameters persist in ``_meta.json`` and are VALIDATED at probe
    time — mismatched sketches would otherwise fail silently as zero
    candidates (disjoint bucket spaces), admitting every duplicate."""
    specs = _ensemble_gap_specs(
        threshold, k, target_recall, floor_recall, max_gap
    )
    _store_build_reset(
        path,
        {
            "n": n, "k": k, "threshold": threshold,
            "target_recall": target_recall,
            "floor_recall": floor_recall, "max_bucket": max_bucket,
            "max_gap": max_gap,
            # The DERIVED band specs, persisted alongside the
            # parameters they derive from: the probe's meta guard
            # compares parameters, but the bucket space is built
            # from the specs — if a future release's
            # _ensemble_gap_specs derives different specs from the
            # same parameters (a rounding-edge change: r15's
            # log(1-p)→log1p(-p) flip could move a ceil()), probes
            # against an old store must fail LOUDLY instead of
            # silently losing index/probe bucket overlap.
            "gap_specs": specs,
        },
    )
    _containment_store_write(df, path, text_col, id_col, n, k, specs)


#: Manifest/partition column governing persisted-store visibility —
#: shared by every incremental sketch store in this module (containment
#: ensemble, MinHash, substring fingerprints, shingle df). Reserved in
#: the sketch tables; never collides with user columns (the tables
#: carry only generated names).
_STORE_BATCH_COL = "batch"
#: The store layout on disk. Every lifecycle operation except
#: sketching (write, read, compact, stats, vacuum, maintain, migrate)
#: reads a store through these three rules, so none needs to know
#: which family wrote it:
#:
#: (a) Tables: a store's tables are the directories under its root
#:     whose names start with neither ``_`` nor ``.`` — ``_meta.json``,
#:     ``_manifest.json`` and its lock are metadata (:func:`_store_tables`).
#: (b) Partitioning: a table is hive-partitioned by ``batch`` (the
#:     batch directory a write targets) and by whichever of
#:     ``side``/``bkt`` its frame carries — containment ``bands`` by
#:     ``side``, substring ``fps`` by ``bkt``. Partition columns are
#:     discovered from paths on read, so never part of a pinned data
#:     schema; the store's first batch pins each table's ``side``/``bkt``
#:     columns in the manifest beside its data schema, for the tables
#:     whose paths hold none (:func:`_store_scan`).
#: (c) Additive tables: a table named ``counts`` holds additive
#:     partials that readers sum over ``cnt``; compaction re-aggregates
#:     ``sum(cnt)`` grouped by its other data columns.
_STORE_PARTITION_COLS = (_STORE_BATCH_COL, "side", "bkt")


def _containment_store_write(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n: int,
    k: int,
    specs: list[tuple[int, int, int]],
) -> None:
    """The ensemble sketch: per-doc state is the persisted parent (the
    :func:`_ensemble_rows` materialization boundary; it carries harr
    for the whole build/append input), banded into both sides in one
    pass and one side-partitioned table, plus the additive
    bucket-count rollup."""
    docs = _ensemble_docs(df, text_col, id_col, n, k)
    index = _ensemble_rows(docs, _ensemble_index_schemes(specs))
    bands = index.withColumn("side", F.lit("i")).unionByName(
        _ensemble_rows(docs, specs).withColumn("side", F.lit("p"))
    )
    counts = index.groupBy("p", "r", "band", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    _store_write(
        path, docs, {"docs": docs, "bands": bands, "counts": counts}
    )


def _store_write(
    path: str, parent: DataFrame, frames: dict[str, DataFrame]
) -> None:
    """THE write half of every store build and append: ``frames`` are
    the batch's named table frames, all derived from the family's
    sketch frame ``parent``, and this writes them as one batch.

    Crash safety and visibility: every table lands under a fresh
    ``batch=<id>`` partition (:func:`_store_write_tables`), and the
    batch becomes visible ONLY with the trailing atomic manifest
    publish (``os.replace`` — the :class:`~full_docker_etl_spark.
    sources.sinks.VersionedTable` pointer pattern). A build/append
    that dies between writes leaves orphan ``batch=`` partitions NO
    reader ever selects, so a retried append can never double-count an
    additive ``counts`` partial or duplicate sketch rows — the retry
    writes a fresh batch id and only a fully-written batch is ever
    published. :func:`store_vacuum` reclaims the orphans.

    When several tables derive from ``parent`` it is their
    materialization boundary, so the sketch is computed once: persisted
    SERIALIZED with disk spill like every other corpus-scale
    hashed-shingle frame in this module (it can carry per-doc arrays
    for the whole build/append input; the deserialized default would
    pin executor heap). A single table is written as it is computed: a
    persisted frame with one consumer saves nothing and costs its own
    job under AQE. The ``finally`` that releases the parent covers
    checking the tables' schemas against the pinned ones
    (:func:`_store_schemas`) and writing them — a failure at either
    step releases what it pinned and publishes nothing. The tables
    share the parent and no ordering: only the manifest publish
    sequences visibility, so they write concurrently, and a failed
    write leaves invisible orphans, never a half-published batch."""
    import uuid

    from pyspark import StorageLevel

    batch_id = uuid.uuid4().hex[:12]
    if len(frames) > 1:
        parent.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        schemas = _store_schemas(path, **frames)
        _store_write_tables(path, batch_id, frames)
    finally:
        parent.unpersist()
    partitions = {table: _store_partitions(df) for table, df in frames.items()}
    _store_manifest_publish(
        path, batch_id, {"schemas": schemas, "partitions": partitions}
    )


def _store_partitions(frame: DataFrame) -> list[str]:
    """The ``side``/``bkt`` columns ``frame`` is hive-partitioned by
    (layout rule b)."""
    return [c for c in _STORE_PARTITION_COLS[1:] if c in frame.columns]


def _store_write_tables(
    path: str, batch_id: str, frames: dict[str, DataFrame]
) -> None:
    """Write each named frame to its table's ``batch_id`` directory,
    all concurrently, each through :func:`rebalanced` and
    hive-partitioned by the ``side``/``bkt`` columns it carries (layout
    rule b). Writes target the batch partition DIRECTORY directly
    (hive layout by path, discovered as the ``batch`` column on read) —
    the plain-committer fast path; a constant-valued ``partitionBy``
    would route every write through the dynamic-partition committer for
    the same bytes on disk."""

    def write(table: str, frame: DataFrame) -> None:
        parts = _store_partitions(frame)
        writer = rebalanced(frame, *parts).write
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(_store_batch_dir(path, table, batch_id))

    concurrently(
        *[lambda t=t, f=f: write(t, f) for t, f in frames.items()]
    )


def _store_manifest_path(path: str) -> str:
    import os

    return os.path.join(path, "_manifest.json")


def _store_build_reset(path: str, meta: dict) -> None:
    """Clear ``path`` for a fresh ``*_store_build`` and record the
    store's sketch parameters in ``_meta.json`` — guarded: only a
    directory that is empty or LOOKS LIKE A STORE (carries
    ``_meta.json`` or ``_manifest.json``) is deleted. An unconditional
    rmtree would silently destroy whatever a mistyped path points at
    (the pre-r16 behavior rewrote only known table subdirs, so the
    blast radius of a bad path was bounded — keep it bounded)."""
    import json
    import os
    import shutil

    if os.path.isdir(path):
        entries = set(os.listdir(path))
        if entries and not entries & {"_meta.json", "_manifest.json"}:
            raise ValueError(
                f"refusing to rebuild over {path}: the directory is "
                "non-empty and carries no _meta.json/_manifest.json, so "
                "it does not look like a sketch store — pass an empty "
                "directory, an existing store, or delete it yourself"
            )
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    atomic_write(os.path.join(path, "_meta.json"), json.dumps(meta))


def _store_meta(path: str) -> dict:
    """The sketch parameters the store's build recorded in
    ``_meta.json``: what appends re-use (the caller cannot
    desynchronize them) and probes validate against."""
    import json
    import os

    with open(os.path.join(path, "_meta.json")) as fh:
        return json.load(fh)


def _store_tables(path: str) -> list[str]:
    """The store's table names, sorted (layout rule a)."""
    import os

    return sorted(
        entry
        for entry in os.listdir(path)
        if entry[0] not in "_." and os.path.isdir(os.path.join(path, entry))
    )


def _store_batch_dirs(path: str):
    """``(table, batch_id, directory)`` for every ``batch=`` partition
    on disk, committed or not."""
    import os

    prefix = f"{_STORE_BATCH_COL}="
    for table in _store_tables(path):
        tdir = os.path.join(path, table)
        for entry in sorted(os.listdir(tdir)):
            if entry.startswith(prefix):
                yield table, entry[len(prefix):], os.path.join(tdir, entry)


def _store_orphan_clock(stamps: dict[str, float], bid: str, bdir: str):
    """When an orphan batch stopped being visible: the manifest's
    displaced-at stamp, else its directory mtime (None once a
    concurrent vacuum has removed it)."""
    import os

    if bid in stamps:
        return stamps[bid]
    try:
        return os.path.getmtime(bdir)
    except OSError:
        return None


def _store_batch_dir(path: str, table: str, batch_id: str) -> str:
    """The batch partition directory writes target directly: standard
    hive layout (``<table>/batch=<id>``), so reads of the table root
    discover ``batch`` as a partition column — without routing every
    write through the dynamic-partition committer that a
    constant-valued ``partitionBy`` would cost."""
    return f"{path}/{table}/{_STORE_BATCH_COL}={batch_id}"


def _store_manifest_load(path: str) -> dict:
    """Full manifest document: ``{"batches": [...], "displaced":
    {batch_id: epoch_seconds}, "schemas": {table: schema},
    "partitions": {table: [column, ...]}}``.

    ``schemas`` pins each table's DATA schema (Spark's JSON form of a
    ``StructType``, hive partition columns — ``batch``, ``side``,
    ``bkt`` — excluded): the store's first batch publishes the schemas
    of the frames it wrote, every append is checked against them before
    it writes (:func:`_store_schemas`), and every later manifest rewrite
    carries them unchanged. Readers open committed batches with
    ``spark.read.schema(pinned)`` (:func:`_store_read_committed`), so an
    open starts no footer-inference job. Manifests written by an earlier
    release or by :func:`store_migrate` carry none and load with
    ``schemas`` empty — their readers infer, as before. ``partitions``
    pins each table's ``side``/``bkt`` partition columns the same way
    (first batch, carried unchanged) and loads empty from manifests
    that carry none.

    The ``displaced`` map records the
    moment each compaction-displaced batch stopped being visible —
    written ATOMICALLY with the manifest flip that displaced it, so
    the vacuum grace clock does not depend on directory mtimes
    surviving the filesystem (object-store gateways synthesize them).
    Manifests written before the map existed load with ``displaced``
    defaulting empty (their orphans fall back to the mtime clock).
    A store with no manifest at all fails loudly rather than read
    unpublished partitions."""
    import json
    import os

    mpath = _store_manifest_path(path)
    if not os.path.exists(mpath):
        raise FileNotFoundError(
            f"no _manifest.json at {path} — not a committed store: "
            "either a build that crashed before publishing (rebuild "
            "with the store's *_store_build) or a pre-manifest layout "
            "(fold it into one published batch, without re-sketching, "
            "via store_migrate)"
        )
    with open(mpath) as fh:
        doc = json.load(fh)
    doc.setdefault("displaced", {})
    doc.setdefault("schemas", {})
    doc.setdefault("partitions", {})
    return doc


def _store_manifest(path: str) -> list[str]:
    """Committed batch ids, oldest first (see
    :func:`_store_manifest_load` for the full document)."""
    return _store_manifest_load(path)["batches"]


def _store_manifest_write(
    path: str,
    batches: list[str],
    displaced: dict[str, float] | None = None,
    schemas: dict[str, dict] | None = None,
    partitions: dict[str, list[str]] | None = None,
) -> None:
    """Publish the committed set (with the displaced-at stamp map and
    the pinned table schemas and partition columns) atomically
    (:func:`~full_docker_etl_spark.sources.catalog.atomic_write` —
    readers see the old or the new document, never a torn file)."""
    import json

    atomic_write(
        _store_manifest_path(path),
        json.dumps(
            {
                "batches": batches,
                "displaced": displaced or {},
                "schemas": schemas or {},
                "partitions": partitions or {},
            }
        ),
    )


def _store_manifest_lock(path: str):
    """:func:`commit_lock` around every manifest read-modify-write (the
    parquet writes run outside it). The store contract is single-writer,
    so a second writer fails at once (``wait=0``) instead of silently
    dropping a committed batch; a crashed writer's lock is broken by the
    next writer once older than ``STALE_LOCK_S``."""
    return commit_lock(_store_manifest_path(path) + ".lock", 0, "store-manifest")


def _store_manifest_publish(
    path: str, batch_id: str, pins: dict[str, dict] | None = None
) -> None:
    """Append ``batch_id`` to the committed set atomically. The
    read-modify-write runs under the manifest lock
    (:func:`_store_manifest_lock`), so a violated single-writer
    contract raises instead of silently dropping a concurrent append's
    batch, and a crashed writer's lock is broken once stale.
    ``pins`` — the batch's ``schemas`` (:func:`_store_schemas`) and
    ``partitions`` (their partition columns) — are pinned only by the
    store's FIRST batch; later publishes carry the manifest's pins and
    displaced-at stamp map along unchanged."""
    import os

    with _store_manifest_lock(path):
        batches: list[str] = []
        displaced: dict[str, float] = {}
        if os.path.exists(_store_manifest_path(path)):
            doc = _store_manifest_load(path)
            batches, displaced = doc["batches"], doc["displaced"]
            pins = {k: doc[k] for k in ("schemas", "partitions")}
        batches.append(batch_id)
        _store_manifest_write(path, batches, displaced, **(pins or {}))


def _store_manifest_replace(
    path: str, expected: list[str], batches: list[str]
) -> None:
    """Compaction's manifest flip: REPLACE the committed set, but only
    if it still equals the snapshot the compaction folded (``expected``)
    — under the manifest lock, so an append that landed mid-compaction
    raises here instead of being silently erased from the committed
    set (its data would have survived on disk as an orphan, but no
    reader would ever see it again).

    Every DISPLACED batch id (committed under ``expected``, absent
    from ``batches``) gets a displaced-at stamp recorded in the
    manifest's ``displaced`` map IN THE SAME ATOMIC WRITE as the flip:
    :func:`store_vacuum`'s grace window measures against that stamp,
    and displacement is the instant the race it protects against (a
    probe planned under the pre-flip manifest) starts its clock.
    Because stamp and flip are one ``os.replace``, there is no window
    in which a batch is an orphan but its grace clock still reads its
    write time — no crash between flip and stamp can exist, and the
    clock survives filesystems that do not preserve directory mtimes
    (object-store gateways). The displaced ``batch=`` directories are
    ALSO touched (``os.utime``) BEFORE the flip, inside the lock,
    while they are still committed (vacuum skips committed batches
    regardless of mtime): external tools that only look at mtimes see
    a fresh clock by the instant the dirs become orphans, and a crash
    before the flip leaves the store untouched — committed batches
    with refreshed mtimes, no published change.

    Stamps for batch ids whose directories are gone from every table
    (reclaimed by a past vacuum) are pruned here, under the same lock,
    so the map is bounded by the orphans actually on disk."""
    import os
    import time

    with _store_manifest_lock(path):
        doc = _store_manifest_load(path)
        current = doc["batches"]
        if current != expected:
            raise RuntimeError(
                f"store manifest changed during compaction: expected "
                f"{expected}, found {current} — a concurrent append "
                "violated the single-writer contract; the compacted "
                "batch was NOT published (re-run compaction)"
            )
        displaced = set(expected) - set(batches)
        on_disk: set[str] = set()
        for _, bid, bdir in _store_batch_dirs(path):
            on_disk.add(bid)
            if bid in displaced:
                # mtime fallback clock, refreshed pre-flip while the
                # batch is still committed (see docstring)
                os.utime(bdir)
        now = time.time()
        stamps = {
            bid: ts
            for bid, ts in doc["displaced"].items()
            if bid in on_disk  # prune stamps for vacuumed batches
        }
        stamps.update({bid: now for bid in displaced})
        _store_manifest_write(
            path, batches, stamps, doc["schemas"], doc["partitions"]
        )


def _store_schemas(path: str, **frames: DataFrame) -> dict[str, dict]:
    """The data schemas of one batch's table frames (partition columns
    excluded, JSON form — :func:`~full_docker_etl_spark.sources.catalog.data_schema`)
    for :func:`_store_manifest_publish` to pin — checked first against
    the schemas the store already pinned, so an append whose frames
    would land another schema (``int`` ids into a ``bigint``-id store,
    say) raises before anything is written. Nullability is not
    compared: a parquet read makes every column nullable anyway. A
    store with no manifest yet (a build) or with no pinned schemas (an
    earlier release, :func:`store_migrate`) checks nothing."""
    import os

    from pyspark.sql.types import StructType

    schemas = {
        table: data_schema(df, _STORE_PARTITION_COLS)
        for table, df in frames.items()
    }
    if os.path.exists(_store_manifest_path(path)):
        pinned = _store_manifest_load(path)["schemas"]
        for table, schema in schemas.items():
            if table not in pinned:
                continue
            want, got = (
                StructType.fromJson(s).simpleString()
                for s in (pinned[table], schema)
            )
            if got != want:
                raise ValueError(
                    f"schema mismatch: store table {table!r} at {path} "
                    f"is pinned to {want} but this batch writes "
                    f"{got} — nothing was written"
                )
    return schemas


def _store_scan(spark: SparkSession, path: str, table: str) -> DataFrame:
    """One store table restricted to COMMITTED batches (manifest
    ``isin`` → batch-partition pruning: orphans from a crashed write
    are never scanned), ``batch`` column kept. Opened through
    :func:`~full_docker_etl_spark.sources.catalog.read_parquet` with
    the manifest's pinned schema — no footer-inference job — or, when
    the manifest carries none (an earlier release or
    :func:`store_migrate`), by memoized inference; partition columns
    are discovered from paths either way.

    A crashed build (no manifest) raises first. A MISSING table
    directory raises too: it means the store path is wrong or the
    table was never written, and silently treating it as empty would
    drop an occurrence cap or admit every duplicate. A table holding
    no data file — a partitioned write of no rows lands none, e.g. a
    corpus whose docs are all shorter than n — leaves path discovery
    nothing to find, so its pinned open lacks the partition columns:
    it opens as an empty frame of its data schema, ``batch`` and the
    ``side``/``bkt`` columns the manifest pins for it — the schema it
    has once it holds data (each typed ``string``, as path discovery
    types them with partition-column type inference off, which this
    engine's sessions pin). Only a partitioned table can be file-less
    (an empty unpartitioned write lands one schema-only file), so a
    manifest that pins no partition columns (an earlier release)
    opens it with both rule-b columns. A batch probed against such a
    store sees an empty corpus (batch×batch pairs only), not a crash.
    A file-less table whose manifest pins no data schema either has no
    schema source left and raises Spark's inference error."""
    import os

    from pyspark.sql.types import StructType

    doc = _store_manifest_load(path)
    tdir = os.path.join(path, table)
    if not os.path.isdir(tdir):
        raise FileNotFoundError(
            f"store table missing: {tdir} — either the store path is "
            "wrong or the table was never written; refusing to treat a "
            "missing table as an empty corpus"
        )
    frame = read_parquet(spark, tdir, doc["schemas"].get(table))
    if _STORE_BATCH_COL not in frame.columns:
        parts = doc["partitions"].get(table, ["side", "bkt"])
        schema = StructType(list(frame.schema.fields))
        for col in (_STORE_BATCH_COL, *parts):
            schema.add(col, "string")
        frame = spark.createDataFrame([], schema)
    return frame.where(F.col(_STORE_BATCH_COL).isin(doc["batches"]))


def _store_read_committed(spark: SparkSession, path: str, table: str):
    """Read one store table restricted to COMMITTED batches with the
    stamp column dropped — consumers see the logical schema. Opened
    with the schema the manifest pins for ``table`` (no inference job)
    unless the manifest carries none; missing and file-less tables as
    :func:`_store_scan` opens them."""
    return _store_scan(spark, path, table).drop(_STORE_BATCH_COL)


def store_compact(spark: SparkSession, path: str) -> list[str]:
    """Fold every committed batch of a store into ONE — the small-file
    reclaim for a store that has absorbed many incremental appends:
    every append adds a ``batch=`` partition to each table (at least
    one file per touched bucket or side), so after many batches each
    probe pays per-batch file listing, a long committed ``isin``
    prune, and one additive ``counts`` partial per batch — at 100 TB
    exactly the small-file problem table formats compact away. Every
    table is rewritten under a fresh batch id with its own partitioning
    (layout rule b) and the additive ``counts`` partials are
    re-AGGREGATED (rule c: probes then sum one row per key instead of
    one per append); the store is then equivalent to a fresh build of
    the same corpus (pinned by probe-equality tests).

    Crash safety is the build/append model, not a directory swap: the
    folded batch lands under a fresh ``batch=`` partition and the
    manifest REPLACE publishes it atomically, so a compaction that dies
    mid-write leaves the store serving the old batches exactly as they
    were (the half-written batch is an unpublished orphan). Returns the
    displaced batch ids, which are NOT deleted here: a probe planned
    under the pre-compaction manifest still reads them mid-scan, so
    their files must outlive the flip — reclaim them with
    :func:`store_vacuum` once such probes have drained. Single-writer
    like build/append; a concurrent append that lands mid-compaction
    makes the final manifest flip raise rather than silently erase the
    append. No-op on a store with ≤1 committed batch."""
    import uuid

    old = _store_manifest(path)
    if len(old) <= 1:
        return []
    batch_id = uuid.uuid4().hex[:12]
    frames = {
        table: _store_read_committed(spark, path, table)
        for table in _store_tables(path)
    }
    if "counts" in frames:
        counts = frames["counts"]
        frames["counts"] = counts.groupBy(
            *[c for c in counts.columns if c != "cnt"]
        ).agg(F.sum("cnt").alias("cnt"))
    _store_write_tables(path, batch_id, frames)
    # REPLACE the committed set (not extend): readers flip from the N
    # old batches to the one compacted batch in a single os.replace —
    # guarded against a concurrent append having moved the manifest.
    _store_manifest_replace(path, old, [batch_id])
    return list(old)


def store_vacuum(path: str, older_than_seconds: float = 0.0) -> list[str]:
    """Delete a store's orphan ``batch=`` partitions (written by a
    build/append/compact that died before its manifest publish, or
    displaced by a compaction — invisible to every NEW reader but still
    on disk). Returns the removed batch ids.

    Concurrency contract: CRASH orphans are referenced by no reader
    ever, so vacuuming them is safe while probes run. COMPACTION-
    DISPLACED partitions are different — a probe planned under the
    pre-compaction manifest still reads them mid-scan, which is
    exactly why :func:`store_compact` defers their deletion to this
    call. Either run vacuum once probes planned before the last
    compaction have drained, or pass ``older_than_seconds`` set to
    your longest plausible probe duration: partitions inside the
    grace window are skipped (the retention policy table formats use
    for the same displaced-file race). The grace clock starts at
    DISPLACEMENT, not at write: :func:`_store_manifest_replace`
    records a displaced-at stamp in the manifest's ``displaced`` map
    in the same atomic write as the flip, and that stamp — not the
    filesystem — is what this grace measures against, so a years-old
    batch displaced by a just-finished compaction still gets the full
    window, even on object-store gateways that synthesize directory
    mtimes. With that contract, a scheduled
    ``vacuum(path, older_than_seconds=6*3600)`` is safe next to a
    probe fleet whose probes finish within 6 hours of being planned.
    Orphans WITHOUT a stamp fall back to the directory mtime: crash
    orphans (never committed, so no probe ever reads them — the
    mtime is their write time, conservative) and partitions displaced
    by a pre-stamp release's compaction (mtime = touch-at-flip on
    mtime-preserving filesystems; on gateways that synthesize mtimes,
    drain probes before the first vacuum after upgrading)."""
    import shutil
    import time

    doc = _store_manifest_load(path)
    committed = set(doc["batches"])
    removed: set[str] = set()
    cutoff = time.time() - older_than_seconds
    for _, bid, bdir in _store_batch_dirs(path):
        if bid in committed:
            continue
        clock = _store_orphan_clock(doc["displaced"], bid, bdir)
        if clock is None or clock > cutoff:
            continue  # raced away, or inside the grace window
        shutil.rmtree(bdir, ignore_errors=True)
        removed.add(bid)
    return sorted(removed)


def store_migrate(path: str) -> str:
    """One-shot migration of a PRE-MANIFEST store layout (valid
    ``_meta.json``, tables written flat at ``<path>/<table>``, no
    ``_manifest.json``) into the batch-partitioned manifest layout:
    every existing table file/partition-dir is MOVED (os.rename —
    no data rewritten, no re-sketching) under a single fresh
    ``batch=`` directory, then a manifest naming that one batch is
    published. After migration the store reads, appends and compacts
    exactly like one built by the current release. An ensemble store
    also needs its band specs pinned: :func:`containment_store_migrate`.

    Refuses to run on a store that already has a manifest (nothing to
    migrate) or that already carries ``batch=`` directories without
    one (a build/append crashed pre-publish, or a previous migration
    died half-way — the safe recovery there is a rebuild, because
    this helper cannot tell recoverable moves from orphaned data)."""
    import os
    import uuid

    if os.path.exists(_store_manifest_path(path)):
        raise ValueError(
            f"{path} already has a _manifest.json — nothing to migrate"
        )
    if not os.path.exists(os.path.join(path, "_meta.json")):
        raise FileNotFoundError(
            f"no _meta.json at {path} — not a sketch store"
        )
    prefix = f"{_STORE_BATCH_COL}="
    half = next(_store_batch_dirs(path), None)
    if half is not None:
        raise ValueError(
            f"{os.path.dirname(half[2])} already contains {prefix} "
            "partitions but the store has no manifest — a write or "
            "migration died half-way; rebuild the store with its "
            "*_store_build"
        )
    batch_id = uuid.uuid4().hex[:12]
    for table in _store_tables(path):
        tdir = os.path.join(path, table)
        dest = os.path.join(tdir, f"{prefix}{batch_id}")
        os.makedirs(dest)
        for entry in os.listdir(tdir):
            if entry == f"{prefix}{batch_id}":
                continue
            os.rename(os.path.join(tdir, entry), os.path.join(dest, entry))
    # Under the manifest lock like every other manifest write: a
    # build/append racing the one-shot migration violates the
    # single-writer contract and must fail LOUDLY here, not interleave
    # silently; a crashed writer's lock is broken once stale.
    with _store_manifest_lock(path):
        _store_manifest_write(path, [batch_id])
    return batch_id


def containment_store_migrate(path: str) -> str:
    """Fold a pre-manifest ensemble-store layout into one published
    batch without re-sketching (:func:`store_migrate`), then pin
    the derived band specs into ``_meta.json`` (pre-r17 stores carry
    none — see :func:`containment_store_pin_specs` for exactly what
    the pin does and does not guarantee)."""
    batch = store_migrate(path)
    containment_store_pin_specs(path)
    return batch


def containment_store_pin_specs(path: str) -> list[tuple[int, int, int]]:
    """Pin the band specs of a store whose ``_meta.json`` predates
    spec recording (pre-r17): derive them from the persisted
    parameters with THIS release's :func:`_ensemble_gap_specs` and
    write them back, so the drift guard in
    :func:`_ensemble_store_specs` is active from now on. One-shot
    closer for already-migrated stores; new builds and
    :func:`containment_store_migrate` pin automatically.

    What the pin guarantees — and what it cannot: it freezes the
    CURRENT derivation so any FUTURE change to the spec-derivation
    code fails loudly at probe/append time instead of silently losing
    index/probe bucket overlap. It cannot retroactively detect drift
    that happened BEFORE pinning (a store sketched by a release whose
    derivation already differed); if the building release is unknown,
    a rebuild is the only airtight fix. Idempotent: a store whose
    specs are already pinned is returned unchanged (never
    overwritten — that would erase the very record the guard checks).

    The ``_meta.json`` rewrite is atomic
    (:func:`~full_docker_etl_spark.sources.catalog.atomic_write`) and
    runs under the store's manifest lock: metadata writes obey the
    same single-writer loud-failure contract as manifest writes, and
    the same stale-lock break (:func:`_store_manifest_lock`)."""
    import json
    import os

    # read + already-pinned check + rewrite ALL inside the lock: a
    # pre-lock read would let two racing pinners (or a pin racing any
    # future meta writer) both pass the None check and the loser's
    # stale copy clobber the winner's write
    with _store_manifest_lock(path):
        meta = _containment_store_meta(path)
        if meta.get("gap_specs") is not None:
            return [tuple(s) for s in meta["gap_specs"]]
        specs = _ensemble_gap_specs(
            meta["threshold"], meta["k"],
            meta["target_recall"], meta["floor_recall"], meta["max_gap"],
        )
        meta["gap_specs"] = specs
        atomic_write(os.path.join(path, "_meta.json"), json.dumps(meta))
    return specs


def store_stats(path: str) -> dict:
    """Maintenance-decision snapshot for a persisted sketch store —
    the input a scheduler needs to decide WHEN to compact (committed
    batch count: each append adds a ``batch=`` partition to every
    table, and probes pay per-batch file listing + a longer committed
    ``isin`` prune) and whether a vacuum is due (orphan batches from
    crashed writes or a prior compaction, with their oldest mtime so
    an ``older_than_seconds`` grace can be chosen against the probe
    fleet's SLA). Pure driver-side metadata (manifest + directory
    listing + file census) — no Spark job, safe to poll.

    Returns ``{committed_batches, orphan_batches, oldest_orphan_age_s,
    tables: {<table>: {files, bytes}}}`` where the per-table census
    covers COMMITTED partitions only (what a new probe actually
    reads)."""
    import glob as _glob
    import os
    import time

    doc = _store_manifest_load(path)
    committed = doc["batches"]
    orphans: set[str] = set()
    oldest: float | None = None
    census = {t: {"files": 0, "bytes": 0} for t in _store_tables(path)}
    for table, bid, bdir in _store_batch_dirs(path):
        if bid not in committed:
            orphans.add(bid)
            # same clock as store_vacuum's grace window
            m = _store_orphan_clock(doc["displaced"], bid, bdir)
            if m is not None:
                oldest = m if oldest is None else min(oldest, m)
            continue
        for f in _glob.glob(
            os.path.join(bdir, "**", "*.parquet"), recursive=True
        ):
            census[table]["files"] += 1
            try:
                census[table]["bytes"] += os.path.getsize(f)
            except OSError:
                pass
    return {
        "committed_batches": len(committed),
        "orphan_batches": len(orphans),
        "oldest_orphan_age_s": (
            None if oldest is None else max(0.0, time.time() - oldest)
        ),
        "tables": census,
    }


def store_maintain(
    spark: SparkSession,
    path: str,
    *,
    max_batches: int = 16,
    probe_grace_seconds: float = 6 * 3600.0,
    max_committed_files: int | None = None,
) -> dict:
    """THE maintenance policy loop over a persisted sketch store — the
    documented consumer of :func:`store_stats` that turns the r16
    observability primitives into a schedulable action (run it from
    the same cadence that drives the append loop, e.g. after every
    N-th batch admission):

    1. **Compact when the committed set exceeds the budget**
       (``committed_batches > max_batches``): every append adds a
       ``batch=`` partition per table, and probes pay per-batch file
       listing, a longer manifest ``isin`` prune, and one additive
       ``counts`` partial per batch — the
       small-file problem the reference hand-solved with 1000-row
       insert batching (extractyfinance.py:196-212), solved here by
       folding all committed batches into one. The budget trades
       compaction I/O (a full store rewrite) against probe overhead;
       ~16 keeps per-probe listing flat while compacting once per 16
       appends — at 100 TB, size it so the rewrite amortizes over the
       appends it absorbs.
    2. **Vacuum with the probe fleet's grace**: orphans from crashed
       writes and compaction-displaced partitions are reclaimed only
       once ``probe_grace_seconds`` past their DISPLACEMENT mtime
       (see :func:`store_vacuum` — the clock starts when a partition
       stops being visible, so grace ≥ the longest plausible probe
       duration makes the deletion safe next to an in-flight fleet).
       Pass the fleet's SLA, not 0 — 0 is only safe when no probe is
       running.

    ``max_committed_files`` (optional) is the second compaction
    trigger: total committed parquet files across tables (the
    :func:`store_stats` census — what every probe's scan actually
    lists/opens) exceeding the budget compacts even when the batch
    count is inside its own — the wide-batch small-file case, e.g. a
    few appends that each wrote hundreds of bucket files (a single
    committed batch is already folded: :func:`store_compact` leaves it
    as it is).

    Returns ``{before, compacted, displaced, vacuumed, after}`` —
    the stats snapshots bracketing the actions, whether a compaction
    ran, the batch ids it displaced, and the batch ids vacuum
    reclaimed — so a scheduler can log exactly what maintenance did."""
    before = store_stats(path)
    displaced: list[str] = []
    compacted = False
    committed_files = sum(t["files"] for t in before["tables"].values())
    if before["committed_batches"] > max_batches or (
        max_committed_files is not None
        and committed_files > max_committed_files
    ):
        displaced = store_compact(spark, path)
        compacted = True
    vacuumed = store_vacuum(path, older_than_seconds=probe_grace_seconds)
    return {
        "before": before,
        "compacted": compacted,
        "displaced": displaced,
        "vacuumed": vacuumed,
        "after": store_stats(path),
    }


def df_store_build(
    df: DataFrame, path: str, text_col: str, id_col: str, n: int = 5
) -> None:
    """Build the PERSISTED shingle document-frequency store — the
    corpus-df side-state that makes blocked-measure verification
    exact on a cap-active corpus (:func:`jaccard_verify_pairs`'s
    ``rare`` input; see its measure contract): (sh: xxhash64 of
    n-gram shingle, cnt: number of docs containing it), stored as
    ADDITIVE per-batch partials in one ``counts`` table. Document
    frequency is additive under the single-admission contract (a doc
    enters the corpus through exactly one admitted batch — the
    contract the arrival loop already maintains), so an append writes
    ONLY its batch's partial and readers sum; no rewrite, no
    read-modify-write, crash-orphans invisible, retried appends can
    never double-count (:func:`_store_write`)."""
    _store_build_reset(path, {"n": n})
    _df_store_write(df, path, text_col, id_col, n)


def _df_store_write(
    df: DataFrame, path: str, text_col: str, id_col: str, n: int
) -> None:
    """The df sketch: the batch's per-shingle doc counts, its only
    table."""
    counts = (
        _hashed_shingles(df, text_col, id_col, n)
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    _store_write(path, counts, {"counts": counts})


def df_store_append(
    df: DataFrame, path: str, text_col: str, id_col: str
) -> None:
    """Admit a batch's df partial using the STORE'S OWN shingle width
    (from ``_meta.json`` — the caller cannot desynchronize it)."""
    meta = _store_meta(path)
    _store_manifest(path)  # refuse to extend an uncommitted store
    _df_store_write(df, path, text_col, id_col, meta["n"])


def df_store_rare(
    spark: SparkSession, path: str, max_df: int, n: int
) -> DataFrame:
    """The in-cap shingle frame (``sh``) for
    :func:`jaccard_verify_pairs`'s ``rare`` parameter: committed
    partials summed, filtered to corpus df ≤ ``max_df`` — exactly the
    rare set :func:`_blocked_shared_counts` derives from a full
    corpus pass, served incrementally from the store instead.

    ``n`` is the shingle width the CALLER will verify with, VALIDATED
    against the store's ``_meta.json``: a mismatch would otherwise
    fail silently — the rare frame would hold hashes of a different
    gram space, the verify join would match nothing, every candidate
    pair would drop, and all near-dups would be admitted with no
    error (the same silent-zero-candidates class the containment
    store's probe-time meta guard exists for).

    Corpus-sized at 100 TB (it is ~all distinct shingles): consumed
    through a hash-partitioned join, never broadcast."""
    meta = _store_meta(path)
    if meta["n"] != n:
        raise ValueError(
            f"shingle-width mismatch: df store at {path} was built "
            f"with n={meta['n']} but the caller will verify with "
            f"n={n} — the rare frame would hash a different gram "
            "space and verification would silently return zero pairs"
        )
    return (
        _store_read_committed(spark, path, "counts")
        .groupBy("sh")
        .agg(F.sum("cnt").alias("df"))
        .where(F.col("df") <= max_df)
        .select("sh")
    )


def df_store_crossings(
    spark: SparkSession, path: str, max_df: int, n: int
) -> DataFrame:
    """Shingles pushed OVER the cap by the most recently committed
    batch — the incremental enumeration of MEASURE SHRINK: ``sh``
    rows whose summed corpus df now exceeds ``max_df`` while the df
    EXCLUDING the latest committed partial did not. Corpus df is
    monotone under the single-admission contract (partials only
    accumulate), so between two epochs the in-cap universe changes
    exactly on these shingles — they are the complete set an
    epoch-aware serving loop must revalidate retained pairs against
    (:func:`revalidate_pairs`; the cross-epoch caveat on
    :func:`jaccard_verify_pairs`). Computed from the committed
    partials alone — never a corpus rescan.

    Call BEFORE maintenance at each admission (append → crossings →
    revalidate → maintain): compaction deliberately folds the
    per-batch history away, after which the latest-batch delta is
    gone. On a store whose manifest holds a single batch (fresh
    build, or just-compacted with no newer append) there is no
    "previous epoch" and the result is empty. Same shingle-width
    guard as :func:`df_store_rare` — a mismatched ``n`` would hash a
    different gram space and silently cross nothing."""
    meta = _store_meta(path)
    if meta["n"] != n:
        raise ValueError(
            f"shingle-width mismatch: df store at {path} was built "
            f"with n={meta['n']} but the caller revalidates with "
            f"n={n} — the crossing set would hash a different gram "
            "space and revalidation would silently skip everything"
        )
    batches = _store_manifest(path)
    if len(batches) <= 1:
        return (
            spark.createDataFrame([], "sh long")
        )
    latest = batches[-1]
    counts = _store_scan(spark, path, "counts")
    agg = counts.groupBy("sh").agg(
        F.sum("cnt").alias("_total"),
        F.sum(
            F.when(F.col(_STORE_BATCH_COL) == latest, F.col("cnt"))
            .otherwise(F.lit(0))
        ).alias("_latest"),
    )
    return agg.where(
        (F.col("_total") > max_df)
        & (F.col("_total") - F.col("_latest") <= max_df)
    ).select("sh")


def revalidate_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    crossings: DataFrame,
    rare: DataFrame,
    n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Epoch revalidation of a RETAINED edge set under measure shrink
    (the mechanism the measure-drift discovery calls for — see the
    cross-epoch caveat on :func:`jaccard_verify_pairs`): given the
    pairs an incremental loop has accumulated, the shingles that just
    crossed the cap (:func:`df_store_crossings`) and the CURRENT
    in-cap frame, return the pairs still valid under the current
    measure — re-verifying ONLY the affected ones.

    A pair's blocked measure is a function of its two docs' in-cap
    shingle sets, and the in-cap universe changed exactly on the
    crossing shingles — so a pair neither of whose endpoints CONTAINS
    a crossing shingle has a byte-identical measure and passes
    through unread (the bounded-work claim: endpoint shingling is
    candidate-bounded via the same semi-join as
    :func:`jaccard_verify_pairs`, never the corpus; re-verification
    touches only edges owning a crossed shingle). Applied at every
    admission, induction keeps the whole retained set current: edges
    verified at epoch t are valid under measure_t, and each later
    epoch re-checks exactly those whose measure moved. The surviving
    set is therefore a SUBSET of the CURRENT one-shot exact pair set
    — restoring the no-false-drop argument against a present-measure
    truth that the unrevalidated loop only holds against the
    replayed-union truth. Returns ``(d1, d2)``."""
    cand = pairs.select("d1", "d2").distinct()
    ids = (
        cand.select(F.col("d1").alias("_vid"))
        .unionByName(cand.select(F.col("d2").alias("_vid")))
        .distinct()
    )
    # corpus spread before the join, shingles built spread=False — the
    # jaccard_verify_pairs rationale (the spread probe on a joined
    # plan would double-execute the candidate subtree under AQE)
    endpoint_sh = _hashed_shingles(
        _spread(df).join(
            F.broadcast(ids), F.col(id_col) == F.col("_vid"), "left_semi"
        ),
        text_col, id_col, n, spread=False,
    )
    affected_ids = (
        endpoint_sh.join(crossings.select("sh"), "sh")
        .select("doc_id")
        .distinct()
    )
    a1 = affected_ids.select(F.col("doc_id").alias("d1"))
    a2 = affected_ids.select(F.col("doc_id").alias("d2"))
    affected = cand.join(a1, "d1", "left_semi").unionByName(
        cand.join(a2, "d2", "left_semi")
    ).distinct()
    unaffected = cand.join(affected, ["d1", "d2"], "left_anti")
    survivors = jaccard_verify_pairs(
        df, affected, text_col, id_col,
        n=n, threshold=threshold, rare=rare,
    ).select("d1", "d2")
    return unaffected.unionByName(survivors)


def _containment_store_meta(path: str) -> dict:
    meta = _store_meta(path)
    # Stores persisted before the max_gap contract existed carry no
    # such key; absent means the floor-derived cutoff (None) — the
    # exact specs those stores were sketched with.
    meta.setdefault("max_gap", None)
    # Stores persisted before specs were recorded (pre-r17) carry no
    # gap_specs; None relaxes _ensemble_store_specs to re-derivation.
    meta.setdefault("gap_specs", None)
    return meta


#: The containment-store parameter keys (what the probe's meta guard
#: compares); gap_specs is DERIVED from these and validated separately.
_CONTAINMENT_PARAM_KEYS = (
    "n", "k", "threshold", "target_recall", "floor_recall",
    "max_bucket", "max_gap",
)


def _ensemble_store_specs(meta: dict, path: str) -> list[tuple[int, int, int]]:
    """The band specs a store's sketches were actually built with.

    Re-derives from the persisted parameters and cross-checks against
    the specs recorded at build time (``gap_specs`` in ``_meta.json``):
    a mismatch means the spec-derivation code changed since the store
    was built — its persisted bucket rows and a fresh batch's would
    occupy subtly different band layouts, silently reducing
    index/probe bucket overlap (lost recall with no error signal).
    That must fail loudly. Pre-r17 stores recorded no specs; for them
    the re-derivation is all there is (documented residual risk —
    rebuild or migrate to pin them)."""
    derived = _ensemble_gap_specs(
        meta["threshold"], meta["k"],
        meta["target_recall"], meta["floor_recall"], meta["max_gap"],
    )
    stored = meta.get("gap_specs")
    if stored is not None and [list(s) for s in derived] != [
        list(s) for s in stored
    ]:
        raise ValueError(
            f"band-spec drift: store at {path} was built with gap specs "
            f"{stored} but this release derives {derived} from the same "
            "parameters — persisted and fresh sketches would occupy "
            "different band layouts (silent recall loss). Rebuild the "
            "store with *_store_build on this release."
        )
    return derived


def containment_store_append(
    df: DataFrame, path: str, text_col: str, id_col: str
) -> None:
    """Admit a batch into an existing ensemble store using the STORE'S
    OWN parameters (read from ``_meta.json`` — the caller cannot
    desynchronize them): append per-doc state, index rows, probe rows,
    and PARTIAL bucket counts (``/counts`` is additive — probes sum it,
    so appends never rewrite existing files; visibility and retry:
    :func:`_store_write`). The write half of the incremental loop:
    probe → drop duplicates → append the admitted remainder."""
    meta = _containment_store_meta(path)
    _store_manifest(path)  # refuse to extend an uncommitted store
    _containment_store_write(
        df, path, text_col, id_col, meta["n"], meta["k"],
        _ensemble_store_specs(meta, path),  # drift-guarded vs _meta.json
    )


#: The batch sketch frame cached by the most recent
#: :func:`containment_probe_store` call (its plan feeds four
#: consumers; recomputing the sketch per consumer would re-shingle the
#: batch). Each new probe releases the predecessor, so a long-lived
#: session holds at most one — the accumulation the docstring used to
#: delegate to callers without giving them a handle.
_PROBE_CACHE: list[DataFrame] = []


def containment_probe_release() -> None:
    """Unpersist the batch sketch cached by the last
    :func:`containment_probe_store` call. Called automatically at the
    start of every probe (so repeated probes never accumulate cached
    batches); call it directly to release the final probe's cache
    eagerly once its result is materialized. Idempotent."""
    while _PROBE_CACHE:
        _PROBE_CACHE.pop().unpersist()


def containment_probe_store(
    new_df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n: int = 5,
    k: int = 32,
    threshold: float = 0.9,
    target_recall: float = 0.95,
    floor_recall: float = 0.8,
    max_bucket: int = 200,
    max_gap: int | None = None,
) -> DataFrame:
    """Probe a :func:`containment_store_build` store with a NEW batch:
    candidates are (batch probes → store ∪ batch index) plus (store
    probes → batch index) bucket collisions — store×store is NEVER
    regenerated, which is the point of incrementality, and the second
    direction exists because containment is asymmetric: a stored short
    doc must still match a new long page quoting it. Exactly the
    batch-touching subset of :func:`containment_lsh_pairs` over
    (store ∪ batch) — the bucket cap sums persisted ``/counts`` with
    the batch's own index counts, so capping decisions match the
    from-scratch run's (pinned by the equivalence unit test).

    Returns (d1, d2, d1_in_store, shared, n1, n2, c1, c2) with d1 the
    store side for cross pairs (id order for batch×batch), verified
    exactly — precision 1.0, like the batch tier. Parameters are
    validated against ``_meta.json`` (a mismatch would fail silently
    as zero candidates). A retried batch whose ids already sit in the
    store never emits the degenerate self-pair.

    Scale shape: the wide side is the bucket join; the batch's bucket
    rows are tiny (broadcastable), the store's arrive pre-banded from
    parquet, and verification fetches hashed-shingle arrays for
    candidate ids only. The batch sketch frame is cached for the
    result plan's lifetime and RELEASED automatically when the next
    probe in the session starts (materialize each probe's result
    before issuing the next, or the earlier plan recomputes its
    sketch); :func:`containment_probe_release` drops the last one
    eagerly — repeated probes never accumulate cached batches."""
    from pyspark import StorageLevel

    spark = new_df.sparkSession
    containment_probe_release()  # at most ONE cached batch per session
    meta = _containment_store_meta(path)
    called = {
        "n": n, "k": k, "threshold": threshold,
        "target_recall": target_recall,
        "floor_recall": floor_recall, "max_bucket": max_bucket,
        "max_gap": max_gap,
    }
    stored_params = {key: meta[key] for key in _CONTAINMENT_PARAM_KEYS}
    if stored_params != called:
        raise ValueError(
            f"sketch-parameter mismatch: store at {path} was built with "
            f"{stored_params}, probe called with {called} — ensemble "
            "sketches with different parameters are incomparable (the "
            "probe would silently return zero candidates)"
        )
    specs = _ensemble_store_specs(meta, path)  # drift-guarded
    batch = _ensemble_docs(new_df, text_col, id_col, n, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _PROBE_CACHE.append(batch)
    batch_index = _ensemble_rows(batch, _ensemble_index_schemes(specs))
    batch_probe = _ensemble_rows(batch, specs)
    store_docs = _store_read_committed(spark, path, "docs")
    store_bands = _store_read_committed(spark, path, "bands")
    cols = ["doc_id", "sz", "p", "r", "band", "bucket"]
    store_index = store_bands.where(F.col("side") == "i").select(*cols)
    store_probe = store_bands.where(F.col("side") == "p").select(*cols)

    key = ["p", "r", "band", "bucket"]
    kept = (
        _store_read_committed(spark, path, "counts")
        .select(*key, "cnt")
        .unionByName(
            batch_index.groupBy(*key).agg(F.count(F.lit(1)).alias("cnt"))
        )
        .groupBy(*key)
        .agg(F.sum("cnt").alias("_n"))
        .where(F.col("_n") <= max_bucket)
        .select(*key)
    )

    def _side(rows: DataFrame, in_store: bool, role: str) -> DataFrame:
        d, z = (f"{role}d", f"{role}z")
        return rows.select(
            F.col("doc_id").alias(d), F.col("sz").alias(z),
            F.lit(in_store).alias(f"{role}s"), *key,
        )

    index_all = _side(store_index, True, "i").unionByName(
        _side(batch_index, False, "i")
    ).join(kept, key)
    collisions = (
        _side(batch_probe, False, "p").join(index_all, key)
    ).unionByName(
        _side(store_probe, True, "p").join(
            _side(batch_index, False, "i").join(kept, key), key
        )
    )
    cand = (
        collisions.where(F.col("pd") != F.col("id"))
        .where(F.col("pz") <= F.col("iz"))  # smaller (or equal) probes larger
        .select(
            # cross pairs: store side is d1; batch×batch: id order
            F.when(F.col("ps"), F.col("pd"))
            .when(F.col("is"), F.col("id"))
            .otherwise(F.least("pd", "id")).alias("d1"),
            F.when(F.col("ps"), F.col("id"))
            .when(F.col("is"), F.col("pd"))
            .otherwise(F.greatest("pd", "id")).alias("d2"),
            (F.col("ps") | F.col("is")).alias("d1_in_store"),
        )
        # ONE row per unordered pair: a RETRIED batch doc exists on
        # both sides (store copy + batch copy), so the same logical
        # pair can surface both as a cross row (store-first,
        # d1_in_store=true) and a batch×batch row (id-order, false) —
        # plain distinct would keep both, handing consumers duplicated
        # and contradictory rows. Keep the store-flagged orientation
        # when both exist (the store fact is the durable one).
        .groupBy(
            F.least("d1", "d2").alias("_lo"),
            F.greatest("d1", "d2").alias("_hi"),
        )
        .agg(
            F.max_by(
                F.struct("d1", "d2", "d1_in_store"),
                F.col("d1_in_store").cast("int"),
            ).alias("_c")
        )
        .select("_c.d1", "_c.d2", "_c.d1_in_store")
    )
    lookup = store_docs.select("doc_id", "harr", "sz").unionByName(
        batch.select("doc_id", "harr", "sz")
    )
    # the retried-batch doc also duplicates its verification row in
    # `lookup` (identical bytes from both sides) — the verify joins
    # then multiply the pair; collapse the identical output rows
    return _ensemble_verify(cand, lookup, threshold).dropDuplicates()


def source_overlap(
    df: DataFrame,
    text_col: str,
    source_col: str,
    n: int = 5,
    max_source_df: int = 16,
) -> DataFrame:
    """Cross-SOURCE n-gram overlap matrix — the corpus-governance
    report behind "is dump B a re-crawl of dump A?" and cross-source
    contamination audits: for every source pair, the count and Jaccard
    of shared DISTINCT n-gram shingles over the discriminative shingle
    set (shingles present in ≤ ``max_source_df`` sources; ubiquitous
    boilerplate n-grams carry no overlap signal and are excluded by
    both the engine and the oracle, the :func:`jaccard_pairs` posting
    cap applied at source granularity).

    Scale posture: shingles hash to 64-bit INSIDE the source row
    (xxhash64 — no shingle string ever leaves its row; collision effect
    on distinct counts is ~m²/2⁶⁴, the same accepted class as
    :func:`jaccard_pairs`); the first shuffle carries distinct
    (source, long) pairs — corpus text never moves. The self-join
    fans out per shingle as (#sources sharing it)², bounded by
    ``max_source_df``² per shingle and |sources|² overall — sources
    are a dimension (hundreds), not the corpus. Returns one row per
    co-occurring pair: (s1, s2, shared, n1, n2, jaccard), s1 < s2."""
    from pyspark import StorageLevel

    # Persisted because it feeds two consumers (the source-df filter and
    # the kept-keys join input) — but SERIALIZED with disk spill, not the
    # deserialized default: this frame is O(distinct (source, shingle))
    # — corpus-scale at 100 TB — and MEMORY_ONLY_DESER would pin executor
    # heap for the whole session. Release is the caller's (bench clears
    # caches between queries; a long-lived library caller unpersists via
    # spark.catalog.clearCache or df.unpersist after materializing).
    sh = (
        _spread(df)
        .select(
            F.col(source_col).alias("source"),
            F.explode(
                F.array_distinct(
                    F.transform(
                        word_ngrams(F.col(text_col), n),
                        lambda s: F.xxhash64(s),
                    )
                )
            ).alias("sh"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_sdf"))
        .where(F.col("_sdf") <= max_source_df)
        .select("sh")
    )
    shr = sh.join(rare, "sh")
    sizes = shr.groupBy("source").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = shr.select(F.col("source").alias("s1"), "sh")
    b = shr.select(F.col("source").alias("s2"), "sh")
    shared = (
        a.join(b, "sh")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    n1 = sizes.select(F.col("source").alias("s1"), F.col("n_shingles").alias("n1"))
    n2 = sizes.select(F.col("source").alias("s2"), F.col("n_shingles").alias("n2"))
    # sizes is |sources| rows — broadcast both lookups
    return (
        shared.join(F.broadcast(n1), "s1")
        .join(F.broadcast(n2), "s2")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared")),
        )
        .select("s1", "s2", "shared", "n1", "n2", "jaccard")
    )


def substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_tokens: int = 20,
    max_occ: int = 1000,
) -> DataFrame:
    """EXACT SUBSTRING-level duplicated spans — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    modality: their suffix-array dup-finder re-expressed as positional
    shingle posting lists. A duplicated span is a MAXIMAL run of
    consecutive word positions whose n-gram fingerprints match between
    two documents, covering ≥ ``min_tokens`` tokens.

    Scale posture: per doc, POSITIONAL n-gram fingerprints (pos,
    xxhash64 of the n-token window — hashed inside the source row, so
    no shingle string ever leaves it; the first exchange carries
    (doc, int, long)); a posting cap drops fingerprints occurring more
    than ``max_occ`` times corpus-wide, bounding the equi-join fan-out
    at |shingles|·max_occ² exactly like :func:`jaccard_pairs`'
    ``max_df`` rule — boilerplate n-grams can't explode the candidate
    set, and a true duplicated span of ≥ min_tokens tokens spans
    min_tokens−n+1 consecutive shingles, so capping a few of them only
    splits the reported run, never hides the duplication. The
    self-join's (p1, p2) matches then collapse to maximal runs by the
    DIAGONAL-ISLANDS trick — constant p2−p1, consecutive p1 ⇒
    p1 − row_number() is constant per run — one window plus one
    groupBy, no iteration. Span token length = run length + n − 1.

    Returns (d1, d2, d1_pos, d2_pos, span_tokens): one row per maximal
    duplicated span; positions are 0-based token offsets. The result is
    MATERIALIZED (eager localCheckpoint) so the fingerprint cache that
    feeds the cap and both self-join sides can be released before
    returning — otherwise every call pins the full fingerprint set in
    executor storage for the life of the session, which is fatal in a
    per-batch admit loop. The returned frame holds only span rows
    (bounded); a long-running caller that is done with it can free even
    those via ``util.release_checkpoint``."""
    fps = _positional_fps(df, text_col, id_col, n).cache()
    # cached: feeds the occurrence cap AND both self-join sides within
    # the single materializing job below, then released
    try:
        rare = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("occ"))
            .where(F.col("occ") <= max_occ)
            .select("fp")
        )
        kept = fps.join(rare, "fp")
        a = kept.select(
            F.col("_did").alias("d1"), F.col("pos").alias("p1"), "fp"
        )
        b = kept.select(
            F.col("_did").alias("d2"), F.col("pos").alias("p2"), "fp"
        )
        matches = a.join(b, "fp").where(F.col("d1") < F.col("d2"))
        return _diag_spans(matches, n, min_tokens).localCheckpoint(
            eager=True
        )
    finally:
        fps.unpersist()


def _positional_fps(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(_did, pos, fp): the POSITIONAL n-gram fingerprints — xxhash64
    of each n-token window, hashed inside the source row so shingle
    strings never leave it."""
    return _spread(df).select(
        F.col(id_col).alias("_did"),
        F.posexplode(
            F.transform(
                word_ngrams(F.col(text_col), n),
                lambda s: F.xxhash64(s),
            )
        ).alias("pos", "fp"),
    )


def _diag_spans(matches: DataFrame, n: int, min_tokens: int) -> DataFrame:
    """Collapse (d1, d2, p1, p2) fingerprint matches (d1 < d2) to
    maximal consecutive runs — the diagonal-islands trick shared by
    the batch and incremental substring-dedup paths."""
    runs = matches.withColumn("diag", F.col("p2") - F.col("p1"))
    w = Window.partitionBy("d1", "d2", "diag").orderBy("p1")
    runs = runs.withColumn("grp", F.col("p1") - F.row_number().over(w))
    return (
        runs.groupBy("d1", "d2", "diag", "grp")
        .agg(
            F.min("p1").cast("long").alias("d1_pos"),
            F.min("p2").cast("long").alias("d2_pos"),
            (F.count(F.lit(1)) + F.lit(n - 1)).alias("span_tokens"),
        )
        .where(F.col("span_tokens") >= min_tokens)
        .select("d1", "d2", "d1_pos", "d2_pos", "span_tokens")
    )


def substring_store_build(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n: int = 5,
    max_occ: int = 1000,
    n_buckets: int = 16,
) -> None:
    """Build the PERSISTENT positional-fingerprint store for
    INCREMENTAL substring dedup: at 100 TB you find each arriving
    batch's duplicated passages against the corpus, never the corpus
    against itself again. Writes ``<path>/fps`` (doc_id, pos, fp)
    PARTITIONED BY ``bkt = pmod(fp, n_buckets)`` — the probe derives
    its batch's bucket set and reads only those directories, so probe
    IO tracks the batch's fingerprint spread, not the store size
    (``n_buckets`` is the IO-granularity dial: 16 keeps test corpora
    out of small-file territory; a 100 TB store wants 2-4k) — plus an
    ADDITIVE occurrence log ``<path>/counts`` (fp, cnt): appends add
    counts rather than rewriting them and readers sum per fp, so the
    corpus-wide occurrence cap stays EXACT as the store grows (a
    fingerprint that crosses ``max_occ`` only after later batches is
    capped everywhere, same as a from-scratch run). Parameters persist
    in ``_meta.json`` and are validated at probe time — a silent n or
    bucketing mismatch would otherwise return zero matches and admit
    every duplicate.

    Crash safety and visibility are :func:`_store_write`'s: fps
    without counts would silently understate occurrence totals and
    uncap boilerplate fingerprints, and a retry that double-appended
    the additive log would overstate them, cap early, and silently
    MISS duplicated spans."""
    _store_build_reset(
        path, {"n": n, "max_occ": max_occ, "n_buckets": n_buckets}
    )
    _substring_store_write(df, path, text_col, id_col, n, n_buckets)


def _substring_store_write(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n: int,
    n_buckets: int,
) -> None:
    """The substring sketch: one fingerprint pass (the persisted
    parent) feeds the bucketed fps table and the additive counts log."""
    fps = _bucketed_fps(df, text_col, id_col, n, n_buckets)
    counts = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("cnt"))
    _store_write(path, fps, {"fps": fps, "counts": counts})


def _bucketed_fps(
    df: DataFrame, text_col: str, id_col: str, n: int, n_buckets: int
) -> DataFrame:
    """Store-layout fingerprints: (doc_id, pos, fp, bkt). Directory
    routing for the write is :func:`_store_write`'s ``rebalanced(fps,
    "bkt")`` — AQE-sized, replacing the former fixed
    ``repartition("bkt")`` whose partition count was the static
    shuffle default regardless of batch size."""
    return (
        _positional_fps(df, text_col, id_col, n)
        .withColumnRenamed("_did", "doc_id")
        .withColumn("bkt", F.pmod(F.col("fp"), F.lit(n_buckets)))
    )


def substring_store_append(
    df: DataFrame, path: str, text_col: str, id_col: str
) -> None:
    """Admit a batch into the substring store: append its fingerprints
    (same bucketed layout) and its per-fp counts (the additive log —
    no read-modify-write of the counts table), with the store's own
    parameters (visibility and retry: :func:`_store_write`)."""
    meta = _store_meta(path)
    _store_manifest(path)  # refuse to extend an uncommitted store
    _substring_store_write(
        df, path, text_col, id_col, meta["n"], meta["n_buckets"]
    )


def substring_probe_store(
    new_df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_tokens: int = 20,
    max_occ: int = 1000,
    eager: bool = True,
) -> DataFrame:
    """Probe the substring store with a NEW batch: duplicated-span
    candidates are (batch × store) fingerprint matches plus
    (batch × batch) — store × store runs are NEVER regenerated, which
    is the entire point. Output equals :func:`substring_spans` over
    (store ∪ batch) RESTRICTED to pairs touching the batch — pinned by
    a fixture-equality test — including the occurrence cap, which is
    evaluated on store+batch TOTALS via the additive counts log (a
    boilerplate fingerprint that crosses ``max_occ`` only with this
    batch's arrivals is capped exactly as a from-scratch run would).

    Scale shape: the store scan PRUNES to the batch's fingerprint
    BUCKETS first (the bucket set is ≤ n_buckets ints, collected
    driver-side and pushed as a partition filter — directories the
    batch has no fingerprint in are never read), then filters to the
    batch's exact fingerprints before anything wide happens, so probe
    IO and probe compute both track the batch, not the corpus. A batch
    doc already admitted to the store (a retried/re-delivered batch)
    is matched from its BATCH copy only — the store copy is
    anti-joined out of the match side AND subtracted from the
    occurrence totals (otherwise the doc's fingerprints count twice,
    over-capping near ``max_occ`` so the retry probe returns FEWER
    spans than the original), so a retry never pairs a document with
    itself and caps exactly as a from-scratch run over store ∪ batch
    with each document counted once.

    ``eager=True`` (the default) materializes the result (eager
    localCheckpoint of the bounded span rows) so the per-probe caches
    — the batch fingerprints and the capped-fingerprint set — are
    released before returning; a lazy probe would pin both in executor
    storage for the life of the session, leaking one cache pair per
    batch in a long-running admit loop. ``eager=False`` skips caching
    entirely and returns the fully lazy plan (subtrees replay across
    consumers) — a plan-inspection/debug mode, not a serving shape."""
    spark = new_df.sparkSession
    meta = _store_meta(path)
    if {k: meta.get(k) for k in ("n", "max_occ")} != {
        "n": n, "max_occ": max_occ,
    }:
        raise ValueError(
            f"substring-store parameter mismatch: store at {path} was "
            f"built with {meta}, probe called with "
            f"{{'n': {n}, 'max_occ': {max_occ}}} — fingerprints with "
            "different n are incomparable and a different cap changes "
            "which candidates exist; rebuild or match parameters"
        )
    pinned: list[DataFrame] = []  # caches to release before returning

    def _pin(frame: DataFrame) -> DataFrame:
        if eager:
            frame = frame.cache()
            pinned.append(frame)
        return frame

    # feeds counts, the cap filter, and both join sides
    bfp = _pin(
        _positional_fps(new_df, text_col, id_col, n).withColumnRenamed(
            "_did", "doc_id"
        )
    )
    batch_ids = new_df.select(F.col(id_col).alias("doc_id")).distinct()
    n_buckets = meta["n_buckets"]
    batch_bkts = [
        r.bkt
        for r in bfp.select(
            F.pmod(F.col("fp"), F.lit(n_buckets)).alias("bkt")
        )
        .distinct()
        .collect()  # bounded: ≤ n_buckets ints
    ]
    store_all = _store_read_committed(spark, path, "fps").where(
        F.col("bkt").isin(batch_bkts) if batch_bkts else F.lit(False)
    )
    store_fp = store_all.drop("bkt").join(batch_ids, "doc_id", "left_anti")
    # retry exactness: the store copies of the batch's own docs (empty
    # unless the batch was already admitted) are excluded from the
    # match side above, so exclude their fingerprints from the totals
    # too — the additive log still counts them, and the batch copy
    # re-adds them via batch_counts. The semi-join side is tiny (the
    # batch docs' own store fingerprints, under the same bucket
    # pruning), so the subtraction costs one bounded aggregate.
    dup_counts = (
        store_all.join(batch_ids, "doc_id", "left_semi")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("dup"))
    )
    store_counts = (
        _store_read_committed(spark, path, "counts")
        .groupBy("fp")
        .agg(F.sum("cnt").alias("cnt"))
        .join(dup_counts, "fp", "left")
        .select(
            "fp",
            (F.col("cnt") - F.coalesce(F.col("dup"), F.lit(0))).alias("cnt"),
        )
    )
    batch_counts = bfp.groupBy("fp").agg(F.count(F.lit(1)).alias("bcnt"))
    # corpus-total occurrences = (store log minus the batch docs' store
    # copies) + this batch; cap on the sum. Cached: the set is
    # batch-bounded (distinct batch fps) and feeds FOUR consumers
    # (both batch self-join sides, the store filter, and the batch
    # filter) — uncached, the counts-log aggregation subtree replays
    # once per consumer in the physical plan.
    kept_fp = _pin(
        batch_counts.join(store_counts, "fp", "left")
        .where(
            F.col("bcnt") + F.coalesce(F.col("cnt"), F.lit(0)) <= max_occ
        )
        .select("fp")
    )
    bkept = bfp.join(kept_fp, "fp")
    # store side: only fingerprints the batch carries, under the cap
    skept = store_fp.join(kept_fp, "fp")
    sb = skept.select(
        F.col("doc_id").alias("sd"), F.col("pos").alias("sp"), "fp"
    ).join(
        bkept.select(
            F.col("doc_id").alias("bd"), F.col("pos").alias("bp"), "fp"
        ),
        "fp",
    )
    matches_sb = sb.select(
        F.when(F.col("sd") < F.col("bd"), F.col("sd"))
        .otherwise(F.col("bd"))
        .alias("d1"),
        F.when(F.col("sd") < F.col("bd"), F.col("bd"))
        .otherwise(F.col("sd"))
        .alias("d2"),
        F.when(F.col("sd") < F.col("bd"), F.col("sp"))
        .otherwise(F.col("bp"))
        .alias("p1"),
        F.when(F.col("sd") < F.col("bd"), F.col("bp"))
        .otherwise(F.col("sp"))
        .alias("p2"),
    )
    a = bkept.select(F.col("doc_id").alias("d1"), F.col("pos").alias("p1"), "fp")
    b = bkept.select(F.col("doc_id").alias("d2"), F.col("pos").alias("p2"), "fp")
    matches_bb = a.join(b, "fp").where(F.col("d1") < F.col("d2")).select(
        "d1", "d2", "p1", "p2"
    )
    out = _diag_spans(matches_sb.unionByName(matches_bb), n, min_tokens)
    if not eager:
        return out
    try:
        return out.localCheckpoint(eager=True)
    finally:
        for frame in pinned:
            frame.unpersist()


def substring_dedup_apply(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_tokens: int = 20,
    max_occ: int = 1000,
) -> DataFrame:
    """APPLY the substring dedup: remove every duplicated span from
    the NON-CANONICAL document (keep-first: the lowest doc id keeps
    its text; each higher-id partner drops the duplicated token
    range) — the output step of Lee et al. 2022, where the cleaned
    corpus, not the span report, is the artifact.

    Removal is defined on ORIGINAL token positions (single pass, as in
    the reference method): spans from :func:`substring_spans` against
    ANY lower-id partner become per-doc intervals, overlapping
    intervals MERGE (same islands trick as the span finder: sort by
    start, running-max end, cumulative island id — windows partitioned
    per doc, one exchange on the doc id), and the merged interval set
    rides back to the document as ONE in-row array, so the token drop
    is a per-row higher-order filter — no exploded token join, the
    document body crosses the wire exactly once.

    Returns only the documents that lost tokens:
    (doc_id, n_tokens, n_removed, clean_text)."""
    spans = substring_spans(df, text_col, id_col, n, min_tokens, max_occ)
    iv = spans.select(
        F.col("d2").alias("_did"),
        F.col("d2_pos").alias("s"),
        (F.col("d2_pos") + F.col("span_tokens")).alias("e"),
    )
    return _apply_doc_intervals(df, text_col, id_col, iv)


def substring_probe_apply(
    new_df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_tokens: int = 20,
    max_occ: int = 1000,
) -> DataFrame:
    """SCRUB an arriving batch against the substring store — the
    serving-shape Lee et al. flow: instead of dropping a whole batch
    doc that shares a passage with the admitted corpus, cut just the
    duplicated span and admit the rest. Keep-ADMITTED-first: a span
    against a store doc always cuts the BATCH copy (admission order
    outranks id order — the corpus is immutable); spans between two
    batch docs cut the higher id, matching :func:`substring_dedup_apply`.
    Returns only the batch docs that lost tokens
    (doc_id, n_tokens, n_removed, clean_text); union the untouched
    batch docs back for the admit write."""
    spans = substring_probe_store(
        new_df, path, text_col, id_col, n, min_tokens, max_occ
    )
    b2 = new_df.select(
        F.col(id_col).alias("d2"), F.lit(True).alias("_in2")
    ).distinct()
    # every probe span touches the batch, so: d2 in batch → cut d2
    # (covers batch×batch keep-first too); else d1 is the batch side
    sp = spans.join(b2, "d2", "left")
    cut_d2 = F.coalesce(F.col("_in2"), F.lit(False))
    iv = sp.select(
        F.when(cut_d2, F.col("d2")).otherwise(F.col("d1")).alias("_did"),
        F.when(cut_d2, F.col("d2_pos"))
        .otherwise(F.col("d1_pos"))
        .alias("s"),
        (
            F.when(cut_d2, F.col("d2_pos")).otherwise(F.col("d1_pos"))
            + F.col("span_tokens")
        ).alias("e"),
    )
    return _apply_doc_intervals(new_df, text_col, id_col, iv)


def _apply_doc_intervals(
    df: DataFrame, text_col: str, id_col: str, iv: DataFrame
) -> DataFrame:
    """Cut token intervals ``(_did, s, e)`` out of their documents:
    overlapping intervals MERGE (islands trick — sort by start,
    running-max end, cumulative island id; windows partitioned per
    doc, one exchange on the doc id), the merged set rides back to
    the document as ONE in-row array, and the token drop is a per-row
    higher-order filter — no exploded token join, the document body
    crosses the wire exactly once. Affected docs only."""
    wo = Window.partitionBy("_did").orderBy("s", "e")
    # merge overlaps: an interval starts a new island iff it begins
    # past every earlier interval's end (running max over the order) —
    # two projections, same window partitioning, ONE exchange
    islands = iv.withColumn(
        "pmax",
        F.coalesce(
            F.max("e").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(-1),
        ),
    ).withColumn(
        "isl",
        F.sum(
            F.when(F.col("pmax") < F.col("s"), 1).otherwise(0)
        ).over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = (
        islands.groupBy("_did", "isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("_did")
        .agg(
            F.array_sort(F.collect_list(F.struct("s", "e"))).alias("_iv")
        )
    )
    toks = tokens(F.col(text_col))
    docs = df.select(F.col(id_col).alias("_did"), toks.alias("_toks"))
    out = docs.join(merged, "_did")  # affected docs only, by contract
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.exists(
            F.col("_iv"), lambda v: (i >= v["s"]) & (i < v["e"])
        ),
    )
    return out.select(
        F.col("_did").alias("doc_id"),
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def word_ngrams(col: Column, n: int) -> Column:
    """All word n-grams of a text column as one in-row array (with
    duplicates — callers wanting shingles apply array_distinct).
    Too-short documents yield an EMPTY array: the guard is a when(),
    not a clamp, because ``sequence(1, 0)`` DESCENDS in Spark."""
    toks = tokens(col)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_arrays(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    spread: bool = True,
) -> DataFrame:
    """Distinct n-gram shingles as ONE array column per document —
    the no-shuffle input shape for sketching (vs. the exploded
    (doc, shingle) pairs the inverted-index join needs).

    ``spread=False`` is for callers whose input plan already contains
    a join/shuffle: the spread probe reads the partition count via
    ``df.rdd``, and under AQE that MATERIALIZES every query stage in
    the plan — a joined input would execute its whole candidate
    subtree once for the probe and again in the real action (measured
    as duplicated 64-task jobs in the verify paths). Such callers
    spread the narrow corpus side BEFORE their join instead."""
    if spread:
        df = _spread(df)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_ngrams(F.col(text_col), n)).alias("sh_arr"),
    )


def minhash_signature_array(docs: DataFrame, k: int = 32) -> DataFrame:
    """k minhash values per doc as ONE per-row fold: the i-th hash
    function is xxhash64 seeded with i; the accumulator is a k-element
    running-min array, so every shingle is traversed once and
    contributes to all k functions via zip_with. Zero shuffle — the
    explode + k-way-min groupBy formulation moves |docs|·|shingles|
    rows through an exchange, and the k-separate-array_min formulation
    rescans the shingle array k times, for the same result. (A
    universal-hash family in decimal(38) arithmetic is ~5x slower per
    row — ANSI mode forbids wrapping long multiplication, and seeded
    xxhash64 is the idiomatic escape.) The fold itself is the shared
    :func:`_minhash_fold` (one definition across tiers). Input:
    (doc_id, sh_arr) from shingle_arrays. Output: (doc_id, sig
    array<long>); empty shingle arrays yield max-long sentinels."""
    return docs.select("doc_id", _minhash_fold(F.col("sh_arr"), k).alias("sig"))


def minhash_signatures(docs: DataFrame, k: int = 32) -> DataFrame:
    """Column-per-function view of :func:`minhash_signature_array`
    (mh_0..mh_{k-1}). Materialize (cache) the array form first if you
    reference many columns — projection collapse otherwise inlines the
    fold once per referenced column."""
    arr = minhash_signature_array(docs, k)
    return arr.select(
        "doc_id", *[F.element_at("sig", i + 1).alias(f"mh_{i}") for i in range(k)]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH banded candidate generation → exact-signature
    Jaccard estimate. Candidates come ONLY from band-bucket collisions
    (groupBy band hash, self-join within buckets) — never all-pairs.
    Returns pairs with ``est_jaccard`` (fraction of agreeing minhashes)
    ≥ threshold."""
    # Docs with no shingles (< n tokens) have nothing to compare and
    # would all share the sentinel signature — drop them up front.
    # Two cache layers, each materialized exactly once: the ARRAY
    # signatures (so the k-hash fold runs once — the cache boundary
    # stops CollapseProject from inlining it per referenced column),
    # then the COLUMN view (so the band/verify reads below get pruned
    # columnar access instead of deserializing the whole array per
    # pass). Both are tiny: k longs per surviving doc.
    sig_arr = minhash_signature_array(
        shingle_arrays(df, text_col, id_col, n).where(F.size("sh_arr") > 0), k
    ).cache()
    sig = sig_arr.select(
        "doc_id", *[F.element_at("sig", i + 1).alias(f"mh_{i}") for i in range(k)]
    ).cache()

    # Band buckets come from the ONE shared definition (_band_rows) —
    # the incremental store/probe path banks on byte-identical buckets
    # with this function, and two hand-kept copies of the row-group
    # hash would desynchronize silently (symptom: recall collapse).
    cand = _band_rows(sig_arr, k, bands)
    a = cand.select(F.col("doc_id").alias("d1"), "band", "bucket")
    b_ = cand.select(F.col("doc_id").alias("d2"), "band", "bucket")
    pairs = (
        a.join(b_, ["band", "bucket"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )

    s1 = sig.select(F.col("doc_id").alias("d1"), *[F.col(f"mh_{i}").alias(f"x_{i}") for i in range(k)])
    s2 = sig.select(F.col("doc_id").alias("d2"), *[F.col(f"mh_{i}").alias(f"y_{i}") for i in range(k)])
    agree = sum(
        F.when(F.col(f"x_{i}") == F.col(f"y_{i}"), 1).otherwise(0) for i in range(k)
    )
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("est_jaccard", agree / F.lit(float(k)))
        .where(F.col("est_jaccard") >= threshold)
        .select("d1", "d2", "est_jaccard")
    )


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document: sum token-hash bit votes, take the
    sign. Array built-ins over distinct tokens; one aggregation."""
    # Per-row array folds over pre-hashed tokens — zero shuffle (the
    # explode + 64-vote groupBy formulation exchanges |docs|·|tokens|
    # rows for the same signature). ONE fold with a 64-element
    # vote-array accumulator: each token hash is visited once and
    # contributes all 64 votes via zip_with — vs. 64 separate folds
    # that each rescan the token array (64× the traversals and a much
    # larger codegen unit).
    toks = F.array_distinct(tokens(F.col(text_col)))
    hashed = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("harr"),
    )

    # Bit 63's mask doesn't fit a signed long as +2^63; use its
    # two's-complement value so both the AND-test and the final sum
    # stay within LongType.
    def mask(bit: int) -> int:
        return (1 << bit) if bit < 63 else -(1 << 63)

    masks = F.array(*[F.lit(mask(b)) for b in range(64)])
    # The sign-taking lives in the fold's finish lambda, so the whole
    # signature is ONE aggregate expression — referencing the vote
    # array from a separate projection would let CollapseProject inline
    # (and re-evaluate) the fold once per bit.
    sig = F.aggregate(
        F.col("harr"),
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
        lambda votes: F.aggregate(
            F.zip_with(
                votes,
                masks,
                lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, contrib: acc + contrib,
        ),
    )
    return hashed.select("doc_id", sig.alias("simhash"))


def _simhash_blocked_candidates(
    sig: DataFrame, max_hamming: int, n_blocks: int
) -> DataFrame:
    """Candidate pairs from block-combination keys (Manku et al.,
    WWW'07 §3): split the 64-bit signature into ``n_blocks``
    nearly-equal bit blocks; a pair within Hamming distance d differs
    in at most d blocks, so it AGREES on some (n_blocks - d)-block
    subset — keying on every such combination catches it (pigeonhole,
    zero false negatives). Key width is 64·(n_blocks-d)/n_blocks bits:
    more blocks → more tables (C(b, b-d)) but exponentially fewer
    random collisions per table — the corpus-size dial. Input must
    carry (doc_id, simhash); output (d1, d2, h1, h2) distinct."""
    from itertools import combinations

    d, b = max_hamming, n_blocks
    widths = [64 // b + (1 if i < 64 % b else 0) for i in range(b)]
    starts = [sum(widths[:i]) for i in range(b)]

    def block(i: int) -> Column:
        # logical shift: arithmetic shiftright would sign-extend
        # negative signatures into the high blocks. A full-width block
        # (b=1, i.e. max_hamming=0 exact matching) needs the all-ones
        # mask, which only fits a signed long as -1 (two's complement
        # — (1<<64)-1 overflows LongType).
        mask = (1 << widths[i]) - 1 if widths[i] < 64 else -1
        return F.shiftrightunsigned("simhash", starts[i]).bitwiseAND(
            F.lit(mask)
        )

    # ONE scan + in-row array explode instead of a C(b, b-d)-branch
    # union (r18): the union planned every combination as its own scan
    # of the signature cache — ×2 join sides that was 2·C(b,b-d)
    # cache scans and a C(b,b-d)·partitions-task map stage (320 tasks
    # at the sf0.1 dial), plus a plan whose size grew with the table
    # count (measured ~1.1 s of pure planning gap). The per-doc key
    # set is just C(b,b-d) short expressions over one row, so it
    # explodes from a single projection. Codegen-budget note (the
    # :func:`_ensemble_rows` counter-example): that site measured the
    # in-row form SLOWER because its 86 entries each hash a SLICE of a
    # k-element array; here an entry is xxhash64 over ≤d+1 longs and
    # the table count at any sane dial is ≤56, far under the budget.
    entries = []
    for ci, combo in enumerate(combinations(range(b), b - d)):
        cols = [block(i) for i in combo]
        key = cols[0] if len(cols) == 1 else F.xxhash64(*cols)
        entries.append(
            F.struct(F.lit(ci).alias("combo"), key.alias("bucket"))
        )
    keyed = sig.select(
        "doc_id", "simhash", F.explode(F.array(*entries)).alias("_kb")
    ).select("doc_id", "simhash", "_kb.combo", "_kb.bucket")
    a = keyed.select(
        F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"), "combo", "bucket"
    )
    b_ = keyed.select(
        F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"), "combo", "bucket"
    )
    return (
        a.join(b_, ["combo", "bucket"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "h1", "h2")
        .distinct()
    )


def simhash_blocks_for_corpus(corpus_size: int, max_hamming: int = 3) -> int:
    """Corpus-sized ``n_blocks`` dial (the SimHash analogue of
    lsh_band_params): the fewest blocks whose key width
    64·(b-d)/b clears log2(corpus) + 8 bits of safety margin, so
    random key collisions stay ~O(corpus) instead of quadratic.
    Respects the 512-table cap; recall is pigeonhole-exact for any
    returned value. Examples at d=3 (executed, not estimated):
    160k docs → b=5 (~25-bit keys, 10 tables); 10^7 → b=6 (32-bit
    keys, 20 tables); 10^9 → b=8 (40-bit keys, 56 tables) — the +8-bit
    margin buys keyspace ~256× the corpus, i.e. ~0.4% of docs in a
    shared random bucket."""
    import math

    d = max_hamming
    need = math.log2(max(corpus_size, 2)) + 8
    for b in range(d + 1, 65):
        if math.comb(b, b - d) > 512:
            return b - 1
        if 64 * (b - d) / b >= need:
            return b
    return 64


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    corpus_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked by
    block-combination keys (:func:`_simhash_blocked_candidates`).

    ``n_blocks`` defaults to ``max_hamming + 1`` — the fewest tables
    (one block per key, 64/(d+1)-bit keys). That is right when
    |corpus| ≲ 2^(64/(d+1)); past it, random key collisions grow
    quadratically, so RAISE n_blocks until the key width
    64·(n_blocks-d)/n_blocks clears log2|corpus| plus safety margin —
    e.g. d=3, n_blocks=6 gives C(6,3)=20 tables of 32-bit keys, right
    for ~10^7 docs with margin (at 10^9 the auto-dial picks b=8:
    40-bit keys, 56 tables). Pass ``corpus_size`` to have
    :func:`simhash_blocks_for_corpus` pick that value automatically
    (the same call shape as cosine_pairs_lsh's corpus-sized banding).
    Recall is exact either way (pigeonhole — a within-distance pair
    always shares a key); only the table count and collision noise
    change.

    The table count is C(n_blocks, n_blocks-d) and each table is a
    unioned plan branch, so it grows combinatorially past the useful
    range (d=3, n_blocks=35 → 6545 branches — a driver-side plan
    explosion long before any data moves). Raising n_blocks only needs
    to widen keys past log2|corpus|, which a handful of extra blocks
    achieves; anything needing >512 tables is a mis-dial, so that's
    the hard cap."""
    import math

    if max_hamming < 0 or max_hamming > 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    if n_blocks is None and corpus_size is not None:
        b = simhash_blocks_for_corpus(corpus_size, max_hamming)
    else:
        b = n_blocks if n_blocks is not None else max_hamming + 1
    if b < max_hamming + 1:
        raise ValueError(
            f"n_blocks={b} cannot guarantee recall at max_hamming="
            f"{max_hamming}: need at least max_hamming+1 blocks (pigeonhole)"
        )
    if b > 64:
        raise ValueError(f"n_blocks must be <= 64, got {b}")
    n_tables = math.comb(b, b - max_hamming)
    if n_tables > 512:
        raise ValueError(
            f"n_blocks={b} with max_hamming={max_hamming} needs "
            f"C({b},{b - max_hamming})={n_tables} blocking tables (union "
            "branches) — a plan explosion. Key width grows like "
            "64·(n_blocks-d)/n_blocks, so a few blocks past d+1 already "
            "clears any realistic corpus; keep the table count <= 512"
        )
    sig = simhash(df, text_col, id_col).cache()
    cand = _simhash_blocked_candidates(sig, max_hamming, b)
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def natural_key_dedup(
    df: DataFrame, key_cols: list[str], order: list[tuple[str, bool]]
) -> DataFrame:
    """T4: dedup on a natural key keeping a deterministic winner
    (row_number over an explicit order — dropDuplicates keeps an
    arbitrary row, which is not reproducible)."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc() if asc else F.col(c).desc() for c, asc in order]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "d1",
    b_col: str = "d2",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of the near-dup pair graph by min-label
    propagation WITH pointer doubling: each round every node takes the
    minimum label among itself and its neighbors (propagation), then
    jumps to its label's label (``comp ← comp(comp)``, the
    Shiloach–Vishkin shortcut). Propagation alone needs O(diameter)
    rounds; the jump makes the reachable-min horizon grow
    geometrically (f ← 2·f + 2 per round on a path), so convergence is
    O(log diameter) — a 100-node chain settles in 7 rounds, and the
    shallow star/clique graphs real near-dup corpora produce still
    finish in 2-3. ``max_iter`` stays as the loud non-convergence
    guard (2^20-diameter graphs do not occur).

    Correctness of the jump: labels are monotone non-increasing and
    always a node id inside the same component (min of self/neighbor
    labels, then a label's label — both stay in-component), so the
    fixpoint has a constant label per component; the constant c
    satisfies comp(c)=c and comp(min)≤min, forcing c = component min.

    Scale shape: each round is one join on the node key + groupBy-min
    (propagation) and one label-keyed self-join (the jump) — all
    hash-partitioned, no range exchange; per-round driver work is a
    single convergence count riding the checkpoint job as an
    observe() metric. No driver-side union-find, no component ever
    materialized on one machine. Returns (node, component) with
    component = min node id in the component; deterministic, so it is
    oracle-checkable against a recursive-CTE transitive closure."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    from full_docker_etl_spark.operators.util import (
        fresh_checkpoint,
        release_checkpoint,
    )

    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    )
    sym = fresh_checkpoint(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    # Iterative algorithms MUST truncate lineage each round —
    # labels appears three times per iteration (neighbor join, merge,
    # convergence check), so the logical plan otherwise grows ~3^rounds
    # and the driver OOMs building plan trees long before any data
    # does. fresh_checkpoint materializes, cuts the plan AND resets
    # Catalyst size stats — a plain localCheckpoint carries the origin
    # plan's estimate forward, and join-round chaining then compounds
    # sizeInBytes multiplicatively until the driver drowns in BigInt
    # arithmetic (acute when one call's labels feed the next call's
    # input: connected_components_incremental). On a cluster with
    # lineage-based recovery concerns, swap for checkpoint() with a
    # checkpoint dir.
    # Seed with round one computed algebraically: from identity labels,
    # the first propagation is exactly min(self, neighbors) — one
    # groupBy instead of a join round.
    labels = fresh_checkpoint(
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.first("src"), F.min("dst")).alias("comp"))
    )
    from pyspark.sql import Observation

    prev_ckpt = labels
    changed = -1
    converged = False
    # try/finally so the FAILURE paths (non-convergence raise, or any
    # mid-round error) also release the round's checkpoints — without
    # it the symmetrized edges and the last label round stay pinned in
    # executor storage for the rest of the session.
    try:
        for _ in range(max_iter):
            neighbor_min = (
                sym.join(labels, sym["dst"] == labels["node"])
                .groupBy("src")
                .agg(F.min("comp").alias("n_comp"))
            )
            # The convergence count rides the checkpoint
            # materialization as an observe() metric — one job per
            # round does propagate + truncate + count, instead of a
            # second pass over the checkpointed labels.
            prop = (
                labels.join(
                    neighbor_min, labels["node"] == neighbor_min["src"], "left"
                )
                .select(
                    "node",
                    F.least(
                        F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))
                    ).alias("p_comp"),
                    F.col("comp").alias("prev_comp"),
                )
            )
            # pointer doubling: comp ← comp(comp). The jump table is the
            # propagated frame itself re-keyed by node; a left join
            # because a label can be a node whose own row is filtered
            # only on an empty graph, but coalesce keeps it total.
            jump = prop.select(
                F.col("node").alias("j_node"), F.col("p_comp").alias("j_comp")
            )
            obs = Observation()
            new_labels = fresh_checkpoint(
                prop.join(jump, prop["p_comp"] == jump["j_node"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("p_comp"),
                        F.coalesce(F.col("j_comp"), F.col("p_comp")),
                    ).alias("comp"),
                    "prev_comp",
                )
                .observe(
                    obs,
                    F.sum(
                        (F.col("comp") != F.col("prev_comp")).cast("long")
                    ).alias("changed"),
                )
            )
            changed = obs.get["changed"] or 0  # None on an empty graph
            # this round is materialized; the previous round's label
            # blocks are dead — release them so the loop holds ONE
            # round of labels in storage, not every round since the
            # session started
            release_checkpoint(prev_ckpt)
            prev_ckpt = new_labels
            labels = new_labels.select("node", "comp")
            if changed == 0:
                converged = True
                break
        if not converged:
            # exiting by exhaustion means labels are still moving —
            # silent wrong answers are worse than a loud failure here
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                f"({changed} labels still changing); raise max_iter"
            )
    finally:
        release_checkpoint(sym)
        if not converged:
            # the caller gets an exception, not the labels frame —
            # its checkpoint blocks would leak
            release_checkpoint(prev_ckpt)
    return labels


def connected_components_incremental(
    labels: DataFrame,
    new_pairs: DataFrame,
    node_col: str = "node",
    comp_col: str = "comp",
    a_col: str = "d1",
    b_col: str = "d2",
    max_iter: int = 20,
) -> DataFrame:
    """Refresh duplicate-cluster labels after a BATCH of new near-dup
    pairs without re-running :func:`connected_components` over the
    historical pair set — the batch-arrival loop of an always-on
    corpus: probe a persisted sketch store with the batch, get the
    batch-touching pairs, fold them into the standing component
    assignment.

    The trick is that the existing (node, comp) labels ARE a
    connectivity-preserving compression of the old graph: every old
    component collapsed to a star around its min-id root (label rows
    read as edges node→comp). CC over (star edges ∪ new pairs) then
    equals CC over (old pairs ∪ new pairs) exactly — star edges keep
    every old component connected and connect nothing that wasn't,
    and min-label semantics agree because each star's root IS its
    component's min id. Pinned by the equivalence unit test and the
    registry oracle (``dedup_components_incremental`` checks the
    incremental labels value-for-value against a recursive-CTE
    transitive closure of ALL pairs).

    Scale shape vs a from-scratch rerun: input is O(|corpus|) label
    rows + O(|batch pairs|) new edges — the historical pair set
    (O(pairs), the expensive thing a 100 TB corpus cannot re-derive
    per batch) is never touched, and every old component enters with
    diameter ≤ 2, so pointer-doubling rounds track the NEW chain
    length only, not the accumulated graph's diameter. Nodes no new
    pair touches keep their component (labels only merge downward
    when bridged). Returns (node, comp) for every node in
    ``labels`` ∪ ``new_pairs``."""
    star = labels.select(
        F.col(node_col).alias(a_col), F.col(comp_col).alias(b_col)
    )
    edges = new_pairs.select(a_col, b_col)
    return connected_components(
        star.unionByName(edges), a_col, b_col, max_iter
    )


def keep_best_per_cluster(
    docs: DataFrame,
    labels: DataFrame,
    order_cols: list,
    id_col: str = "doc_id",
    node_col: str = "node",
    comp_col: str = "comp",
) -> DataFrame:
    """Duplicate-cluster RESOLUTION with a quality policy: given the
    corpus and its component labels (:func:`connected_components` /
    :func:`connected_components_incremental`), keep exactly ONE row
    per cluster — the first under ``order_cols`` (e.g.
    ``[F.col("n_tokens").desc(), F.col("doc_id")]`` keeps the longest
    copy, id as the deterministic tie-break). Documents absent from
    ``labels`` (never paired) are singleton clusters and always kept,
    labeled by their own id.

    This is the policy step greedy min-id dedup skips: near-dup
    clusters usually contain one full document and several truncated
    or boilerplate-wrapped copies, and a training corpus wants the
    best member kept, not the numerically smallest id. Scale shape:
    one left join on the id and one hash-partitioned window
    (partitionBy cluster, no global sort); clusters are small by
    construction, so the per-partition sort is bounded.

    Include the ordering columns in ``docs``; ties beyond
    ``order_cols`` are broken by the id column (appended
    automatically) so the result is deterministic and
    oracle-checkable."""
    return (
        _cluster_ranked(docs, labels, order_cols, id_col, node_col, comp_col)
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .withColumnRenamed("_comp", comp_col)
    )


def _cluster_ranked(
    docs: DataFrame,
    labels: DataFrame,
    order_cols: list,
    id_col: str,
    node_col: str,
    comp_col: str,
) -> DataFrame:
    """Shared resolution prefix for :func:`keep_best_per_cluster` and
    :func:`resolve_arrival`: label every doc (absent from ``labels`` =
    singleton labeled by its own id), rank within each ``_comp``
    cluster under ``order_cols`` with the id appended as the
    deterministic tie-break. ONE definition so the singleton-labeling
    and tie-break semantics cannot silently diverge between the
    winners-only and the arrival-decision views."""
    lab = labels.select(
        F.col(node_col).alias(id_col), F.col(comp_col).alias("_comp")
    )
    labeled = docs.join(lab, id_col, "left").withColumn(
        "_comp", F.coalesce(F.col("_comp"), F.col(id_col))
    )
    w = Window.partitionBy("_comp").orderBy(*order_cols, F.col(id_col))
    return labeled.withColumn("_rn", F.row_number().over(w))


def resolve_arrival(
    docs: DataFrame,
    labels: DataFrame,
    order_cols: list,
    id_col: str = "doc_id",
    node_col: str = "node",
    comp_col: str = "comp",
    is_new_col: str = "is_new",
) -> DataFrame:
    """Batch-arrival cluster resolution under a PLUGGABLE quality
    policy — the decision step of the always-on dedup serving loop:
    given the corpus rows (carrying the ordering columns and a boolean
    ``is_new_col`` marking the arriving batch) and the refreshed
    component labels (:func:`connected_components_incremental` after
    the batch's pairs folded in), emit every member of every AFFECTED
    cluster (one containing a batch document; unpaired documents are
    singletons labeled by their own id) with a ``kept`` flag: the
    first row under ``order_cols`` (id appended as the deterministic
    tie-break) wins its cluster. ``is_new AND kept`` = admit the
    arrival; ``NOT is_new AND NOT kept`` = the standing winner it
    displaces; ``is_new AND NOT kept`` = duplicate to drop.

    The policy is the ordering: ``[F.col("n_tokens").desc()]`` keeps
    the longest copy (the default heuristic),
    ``[F.col("log_odds").desc()]`` keeps the best copy under a trained
    quality score (the FineWeb-shaped loop) — same plan either way.

    Scale shape: one left join on the id and ONE hash exchange on the
    cluster key serving BOTH window functions (the resolution
    row_number and the cluster-touches-batch flag) — a semi-join
    against a distinct of the is_new clusters would recompute the
    window subtree and add two more exchanges for the same rows.
    Clusters are small by construction, so the per-partition sort is
    bounded; no global sort anywhere. The labeling + ranking prefix
    is :func:`_cluster_ranked` — shared with
    :func:`keep_best_per_cluster` so the two views cannot diverge."""
    w_all = Window.partitionBy("_comp")
    return (
        _cluster_ranked(docs, labels, order_cols, id_col, node_col, comp_col)
        .withColumn("kept", F.col("_rn") == F.lit(1))
        .drop("_rn")
        .withColumn(
            "_affected",
            F.max(F.col(is_new_col).cast("int")).over(w_all),
        )
        .where(F.col("_affected") == 1)
        .drop("_affected")
        .withColumnRenamed("_comp", comp_col)
    )


def semantic_dedup(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    threshold: float = 0.95,
    max_cluster: int = 2000,
    train_iter: int = 3,
) -> DataFrame:
    """SemDeDup-style embedding-CLUSTER dedup (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): instead of pruning candidate PAIRS (the LSH tier),
    cluster the corpus coarsely and compare only WITHIN clusters —
    the published semantic-dedup shape for web-scale corpora. Assign
    every vector to a trained centroid (:func:`kmeans_centroids` —
    driver-side sample training, constant in corpus size — then ONE
    zero-shuffle :func:`assign_nearest` pass), find within-cluster
    cosine ≥ ``threshold`` pairs by a cluster-keyed self-join, link
    them with :func:`connected_components`, and keep the LOWEST id per
    component as the representative.

    Cluster-size cap (the scale guard): the self-join is the quadratic
    step, bounded by the largest cluster. A cluster over
    ``max_cluster`` members is sub-bucketed by a deterministic id hash
    into ⌈size/max_cluster⌉ buckets, so no join key ever fans out past
    ~max_cluster² candidate rows; pairs straddling sub-buckets of an
    over-cap cluster are forgone — the same accepted miss class as
    SemDeDup's own cross-cluster pairs (near-identical vectors land in
    the same cluster with overwhelming probability, and a representative
    merely splits when they don't). Raise ``k`` so expected cluster
    size sits well under the cap; the cap is the backstop for skewed
    embedding spaces, not the steady state.

    Returns one row per input vector: (``id_col``, rep_id), rep_id =
    own id for component heads, unique vectors, and degenerate
    (empty / null-element) vectors that carry no geometry."""
    from full_docker_etl_spark.operators.similarity import (
        assign_nearest,
        cosine,
        kmeans_centroids,
    )

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if max_cluster < 2:
        raise ValueError(f"max_cluster must be >= 2, got {max_cluster}")
    ids_all = corpus.select(F.col(id_col).alias("_sd_id"))
    valid = corpus.where(
        (F.size(F.col(vec_col)) > 0)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    ).select(F.col(id_col).alias("_sd_id"), F.col(vec_col).alias("_v"))
    cents = kmeans_centroids(
        valid, "_v", "_sd_id", k=k, max_iter=train_iter
    )
    assigned = assign_nearest(
        valid, "_v", cents.select("centroid", "cvec"), 1
    ).select("_sd_id", "_v", "centroid")
    # cluster census (k tiny rows) broadcast back to derive the
    # sub-bucket key; clusters at or under the cap keep one bucket
    sizes = assigned.groupBy("centroid").agg(
        F.count(F.lit(1)).alias("_csz")
    )
    keyed = assigned.join(F.broadcast(sizes), "centroid").withColumn(
        "_sub",
        F.when(F.col("_csz") <= max_cluster, F.lit(0).cast("long")).otherwise(
            F.pmod(
                F.xxhash64(F.col("_sd_id")),
                F.ceil(F.col("_csz") / F.lit(max_cluster)),
            )
        ),
    )
    a = keyed.select(
        "centroid", "_sub", F.col("_sd_id").alias("d1"),
        F.col("_v").alias("_v1"),
    )
    b = keyed.select(
        "centroid", "_sub", F.col("_sd_id").alias("d2"),
        F.col("_v").alias("_v2"),
    )
    pairs = (
        a.join(b, ["centroid", "_sub"])
        .where(F.col("d1") < F.col("d2"))
        .where(cosine(F.col("_v1"), F.col("_v2")) >= threshold)
        .select("d1", "d2")
    )
    labels = connected_components(pairs)
    return ids_all.join(
        labels, ids_all["_sd_id"] == labels["node"], "left"
    ).select(
        F.col("_sd_id").alias(id_col),
        F.coalesce(F.col("comp"), F.col("_sd_id")).alias("rep_id"),
    )


def _band_rows(sig_arr: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket) rows from array signatures — one explode
    of an in-row band array; input must be MATERIALIZED (parquet or
    cache), or projection collapse re-inlines the k-hash fold into
    every band's bucket hash."""
    rows = k // bands
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sig_arr.select("doc_id", F.explode(band_arr).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_store_build(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n: int = 5,
    k: int = 32,
    bands: int = 8,
) -> None:
    """Build the PERSISTENT MinHash sketch store for INCREMENTAL dedup:
    at 100 TB you dedup each arriving batch against the corpus, never
    the corpus against itself again — so the corpus side's signatures
    and band buckets are computed once and stored, and each batch pays
    only its own sketching plus a bucket join. Writes
    ``<path>/sigs`` (doc_id, sig) and ``<path>/bands`` (doc_id, band,
    bucket). The bands table is what the probe joins — slim 24-byte
    rows, bands·|corpus| of them; the sigs table is fetched only for
    candidate verification. Append new batches' sketches after
    admitting them (same fold, same seeds — signatures are engine-
    deterministic). The sketch parameters (n, k, bands) are persisted
    in ``<path>/_meta.json`` and VALIDATED at probe time: sketches
    with different parameters are incomparable, and a mismatch would
    otherwise fail silently (NULL-padded zip folds, disjoint bucket
    spaces) as zero candidates — admitting every duplicate.

    Crash safety and visibility are :func:`_store_write`'s: a batch
    half-admitted between the two tables would otherwise sit in
    ``/sigs`` but not ``/bands`` — silently unfindable as a candidate
    yet present in verification — and a retry that duplicated
    signature rows would fan the verification joins out into
    duplicated pair rows."""
    _store_build_reset(path, {"n": n, "k": k, "bands": bands})
    _minhash_store_write(df, path, text_col, id_col, n, k, bands)


def _minhash_store_write(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n: int,
    k: int,
    bands: int,
) -> None:
    """The MinHash sketch: the signature frame is the persisted parent
    (the materialization boundary — the k-hash fold never replays for
    the band projection, and the cache cut stops projection collapse
    re-inlining it, the :func:`_band_rows` caveat); sigs and bands
    derive from it."""
    sigs = minhash_signature_array(
        shingle_arrays(df, text_col, id_col, n).where(F.size("sh_arr") > 0), k
    )
    _store_write(
        path, sigs, {"sigs": sigs, "bands": _band_rows(sigs, k, bands)}
    )


def minhash_probe_store(
    new_df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n: int = 5,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Probe a :func:`minhash_store_build` store with a NEW batch:
    candidate pairs are (batch × store) band-bucket collisions plus
    (batch × batch) — store × store pairs are NEVER regenerated, which
    is the entire point of incrementality. Returns (d1, d2,
    d1_in_store, est_jaccard ≥ threshold) with d1 the
    store-or-earlier side. Sketch parameters must match the store's —
    validated against its ``_meta.json`` (a mismatch would fail
    SILENTLY as zero candidates otherwise). A batch id that already
    exists in the store (a retried/re-delivered batch after partial
    admission) never emits the degenerate self-pair — (X, X) is
    excluded so a retry cannot make a document "a duplicate of
    itself" and get it dropped.

    Scale shape: the only wide movement is the bucket join on
    (band, bucket) keys — the batch side is tiny, the store side
    arrives pre-sketched from parquet, and verification joins fetch
    signatures for candidates only. The batch's signatures are cached
    for the result plan's lifetime and RELEASED automatically when the
    next probe (of any persisted-store tier) starts; see
    :func:`containment_probe_store` and :func:`containment_probe_release`
    for the lifecycle."""
    import os

    spark = new_df.sparkSession
    containment_probe_release()  # at most ONE cached probe batch
    try:
        meta = _store_meta(path)
    except FileNotFoundError:
        meta = None  # pre-metadata store: caller owns parameter discipline
    if meta is not None and meta != {"n": n, "k": k, "bands": bands}:
        raise ValueError(
            f"sketch-parameter mismatch: store at {path} was built with "
            f"{meta}, probe called with "
            f"{{'n': {n}, 'k': {k}, 'bands': {bands}}} — sketches with "
            "different parameters are incomparable (the probe would "
            "silently return zero candidates)"
        )
    new_sig = minhash_signature_array(
        shingle_arrays(new_df, text_col, id_col, n).where(F.size("sh_arr") > 0), k
    ).cache()
    _PROBE_CACHE.append(new_sig)
    if meta is None and not os.path.exists(_store_manifest_path(path)):
        # legacy unmanaged layout (no meta, no manifest): raw reads,
        # caller owns both parameter AND layout discipline
        store_sig = spark.read.parquet(path + "/sigs")
        store_bands = spark.read.parquet(path + "/bands")
    else:
        store_sig = _store_read_committed(spark, path, "sigs")
        store_bands = _store_read_committed(spark, path, "bands")
    new_bands = _band_rows(new_sig, k, bands)
    left = store_bands.select(
        F.col("doc_id").alias("d1"), "band", "bucket", F.lit(True).alias("d1_in_store")
    ).unionByName(
        new_bands.select(
            F.col("doc_id").alias("d1"), "band", "bucket",
            F.lit(False).alias("d1_in_store"),
        )
    )
    right = new_bands.select(F.col("doc_id").alias("d2"), "band", "bucket")
    pairs = (
        left.join(right, ["band", "bucket"])
        .where(F.col("d1") != F.col("d2"))
        .where(F.col("d1_in_store") | (F.col("d1") < F.col("d2")))
        .select("d1", "d2", "d1_in_store")
        .distinct()
    )
    s1 = store_sig.unionByName(new_sig).select(
        F.col("doc_id").alias("d1"), F.col("sig").alias("sig1")
    )
    s2 = new_sig.select(F.col("doc_id").alias("d2"), F.col("sig").alias("sig2"))
    agree = F.aggregate(
        F.zip_with("sig1", "sig2", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("est_jaccard", agree / F.lit(float(k)))
        .where(F.col("est_jaccard") >= threshold)
        .select("d1", "d2", "d1_in_store", "est_jaccard")
    )


def minhash_store_append(df: DataFrame, path: str, text_col: str, id_col: str) -> None:
    """Admit a batch into an existing sketch store: append its
    signatures and band buckets using the STORE'S OWN parameters
    (read from ``_meta.json`` — the caller cannot desynchronize them).
    This is the write half of the incremental loop: probe → drop
    duplicates → append the admitted remainder; the next batch then
    sees this one as part of the corpus (visibility and retry:
    :func:`_store_write`)."""
    meta = _store_meta(path)
    _store_manifest(path)  # refuse to extend an uncommitted store
    _minhash_store_write(
        df, path, text_col, id_col, meta["n"], meta["k"], meta["bands"]
    )
