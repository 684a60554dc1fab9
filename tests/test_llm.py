"""Semantic tests for the rows-only LLM operators: the driver can only
count their rows, so recall/quality is pinned here.

- MinHash-LSH must find the exact-Jaccard near-dup pairs (recall vs
  the oracle-checked tier, plus planted duplicates).
- SimHash must link planted near-identical docs.
- LSH-bucketed ANN must achieve high recall vs brute-force cosine.
- The multimodal mapInPandas stage must honor its declared schema and
  produce correct checksums/byte counts.
"""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from full_docker_etl_spark.harness import job_watermark
from full_docker_etl_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from full_docker_etl_spark.operators.multimodal import (
    decode_binary_meta,
    documents_as_binary,
)
from full_docker_etl_spark.operators.similarity import (
    cosine_topk,
    hyperplane_lsh_topk,
    ivf_topk,
)
from full_docker_etl_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_minhash_recall_vs_exact_jaccard(docs):
    exact = {
        (r.d1, r.d2)
        for r in jaccard_pairs(docs, "text", "doc_id", threshold=0.8).collect()
    }
    assert exact, "testdata has planted near-dups; exact tier must find them"
    approx = {
        (r.d1, r.d2)
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", k=32, bands=8, threshold=0.5
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall}: {exact - approx}"


def test_simhash_links_planted_duplicates(spark, docs):
    # plant: two docs differing by one token, plus an unrelated doc
    base = " ".join(f"tok{i}" for i in range(200))
    near = " ".join(f"tok{i}" for i in range(199)) + " changed"
    other = " ".join(f"other{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = {(r.d1, r.d2): r.hamming for r in simhash_pairs(df, "text", "doc_id").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_block_combinations_same_pairs_wider_keys(spark, docs):
    """The Manku block-combination scheme has EXACT recall for any
    n_blocks >= max_hamming+1 (pigeonhole): widening the blocking from
    4 single-block tables to C(6,3)=20 three-block tables must return
    the identical final pair set — only candidate noise changes — and
    the candidate volume must not grow (wider keys collide less)."""
    from full_docker_etl_spark.operators.dedup import (
        _simhash_blocked_candidates,
        simhash,
    )

    narrow = {
        (r.d1, r.d2, r.hamming)
        for r in simhash_pairs(docs, "text", "doc_id", max_hamming=3).collect()
    }
    wide = {
        (r.d1, r.d2, r.hamming)
        for r in simhash_pairs(
            docs, "text", "doc_id", max_hamming=3, n_blocks=6
        ).collect()
    }
    assert narrow == wide

    sig = simhash(docs, "text", "doc_id")
    cand_narrow = _simhash_blocked_candidates(sig, 3, 4).count()
    cand_wide = _simhash_blocked_candidates(sig, 3, 6).count()
    assert cand_wide <= cand_narrow, (cand_wide, cand_narrow)

    with pytest.raises(ValueError):
        simhash_pairs(docs, "text", "doc_id", max_hamming=3, n_blocks=3)
    # C(35,32)=6545 union branches is a driver-side plan explosion —
    # the dial must refuse, not melt
    with pytest.raises(ValueError, match="plan explosion"):
        simhash_pairs(docs, "text", "doc_id", max_hamming=3, n_blocks=35)


def test_lsh_band_params_scale_with_corpus():
    """Key width must track log2|corpus| (collision noise ~O(|C|)) and
    the band count must restore the target recall at the threshold."""
    import math

    from full_docker_etl_spark.operators.similarity import lsh_band_params

    for size in (10_000, 10**6, 10**9):
        rows, bands = lsh_band_params(0.98, size, target_recall=0.95)
        assert rows >= math.ceil(math.log2(size))
        p_band = (1 - math.acos(0.98) / math.pi) ** rows
        recall = 1 - (1 - p_band) ** bands
        assert recall >= 0.95 or bands == 64, (size, rows, bands, recall)
    r_small, b_small = lsh_band_params(0.98, 10_000)
    r_big, b_big = lsh_band_params(0.98, 10**9)
    assert r_big > r_small and b_big >= b_small


def test_ann_recall_vs_brute_force(embs):
    queries = embs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = embs.select("vec_id", "embedding")
    brute = cosine_topk(queries, corpus, k=5).collect()
    brute_set = {(r.qid, r.vec_id) for r in brute}
    brute_scores = {(r.qid, r.vec_id): r.cos_sim for r in brute}

    # IVF-Flat is the primary scale path: high recall on clustered data
    ivf = ivf_topk(queries, corpus, k=5, n_centroids=16, nprobe=4).collect()
    ivf_set = {(r.qid, r.vec_id) for r in ivf}
    ivf_recall = len(brute_set & ivf_set) / len(brute_set)
    assert ivf_recall >= 0.8, f"IVF recall too low: {ivf_recall}"

    # hyperplane LSH: secondary structure; pin a floor and exactness of
    # whatever scores it does surface
    lsh = hyperplane_lsh_topk(queries, corpus, k=5, n_planes=8).collect()
    lsh_set = {(r.qid, r.vec_id) for r in lsh}
    lsh_recall = len(brute_set & lsh_set) / len(brute_set)
    assert lsh_recall >= 0.4, f"LSH recall collapsed: {lsh_recall}"
    for r in list(ivf) + list(lsh):
        if (r.qid, r.vec_id) in brute_scores:
            assert brute_scores[(r.qid, r.vec_id)] == r.cos_sim


def test_multimodal_decode_schema_and_values(spark, docs):
    payloads = documents_as_binary(docs.limit(20))
    out = decode_binary_meta(payloads, "doc_id", "payload")
    rows = {r.doc_id: r for r in out.collect()}
    src = {r.doc_id: r.text for r in docs.limit(20).collect()}
    assert set(rows) == set(src)
    for doc_id, text in src.items():
        raw = text.encode("utf-8")
        r = rows[doc_id]
        assert r.n_bytes == len(raw)
        assert r.checksum == hashlib.md5(raw).hexdigest()
        assert r.format in ("png", "jpeg")
        assert 64 <= r.width <= 176 and 64 <= r.height <= 176
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "n_bytes", "format", "width", "height", "checksum",
    ]


def test_embedding_cosine_pairs_recall_and_precision(spark, sf_dir):
    """LSH-banded cosine pairs must find ≥90% of the planted
    near-dup pairs and report only pairs truly ≥ threshold."""
    from full_docker_etl_spark.operators.similarity import cosine
    from full_docker_etl_spark.queries.llm_q import (
        dedup_embedding,
        planted_near_dup_embeddings,
    )
    from pyspark.sql import functions as F

    frame = planted_near_dup_embeddings(spark, sf_dir).cache()
    a = frame.select(F.col("vec_id").alias("d1"), F.col("embedding").alias("v1"))
    b = frame.select(F.col("vec_id").alias("d2"), F.col("embedding").alias("v2"))
    brute = (
        a.join(b, F.col("d1") < F.col("d2"))
        .withColumn("cos_sim", F.round(cosine(F.col("v1"), F.col("v2")), 4))
        .where(F.col("cos_sim") >= 0.98)
    )
    brute_pairs = {(r.d1, r.d2): r.cos_sim for r in brute.collect()}
    assert len(brute_pairs) >= 150, "planting failed to create near-dups"

    got = {(r.d1, r.d2): r.cos_sim for r in dedup_embedding(spark, sf_dir).collect()}
    recall = len(set(got) & set(brute_pairs)) / len(brute_pairs)
    assert recall >= 0.9, f"LSH pair recall {recall}"
    for pair, c in got.items():
        assert c >= 0.98  # exact-filter precision
        if pair in brute_pairs:
            assert brute_pairs[pair] == c


def test_chunk_documents_edges(spark):
    """Window boundaries: exact-fit doc → 1 chunk; one-over → 2 chunks
    with overlap; sub-window doc → 1 short chunk; full coverage."""
    from full_docker_etl_spark.operators.text import chunk_documents

    def doc(n):
        return " ".join(f"t{i}" for i in range(1, n + 1))

    df = spark.createDataFrame(
        [(1, doc(24)), (2, doc(25)), (3, doc(3))], "doc_id int, text string"
    )
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=24, overlap=8)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    assert sum(1 for k in rows if k[0] == 1) == 1
    assert rows[(1, 0)].n_tokens == 24
    assert sum(1 for k in rows if k[0] == 2) == 2
    assert rows[(2, 1)].start_token == 17 and rows[(2, 1)].n_tokens == 9
    # overlap: chunk 1 re-covers tokens 17..24
    assert rows[(2, 1)].chunk_text.split()[0] == "t17"
    assert rows[(3, 0)].n_tokens == 3 and rows[(3, 0)].chunk_text == "t1 t2 t3"


def test_connected_components_transitive(spark):
    """Chain a-b-c collapses to one component (transitivity the greedy
    pair-drop lacks); long chains converge within max_iter."""
    from full_docker_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "d1 long, d2 long"
    )
    got = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "d1 long, d2 long"
    )
    got = {r.node: r.comp for r in connected_components(chain).collect()}
    assert set(got.values()) == {1} and len(got) == 12


def test_containment_pairs_catches_quotation_jaccard_misses(spark):
    """The asymmetric measure's reason to exist: a short doc quoted
    verbatim inside a long page has containment 1.0 but Jaccard far
    below threshold — containment_pairs must emit the pair, and its
    values must match a naive Python reimplementation exactly."""
    from full_docker_etl_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    short = "q1 q2 q3 q4 q5 q6 q7"  # 3 distinct 5-grams
    filler = " ".join(f"f{i}" for i in range(60))
    rows = [
        (1, short),
        (2, filler + " " + short),  # quotes doc 1 in full
        (3, "z1 z2 z3 z4 z5 z6"),   # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.d1, r.d2): (r.shared, r.n1, r.n2, r.c1, r.c2)
        for r in containment_pairs(
            df, "text", "doc_id", n=5, threshold=0.9
        ).collect()
    }

    def grams(t):
        toks = t.split()
        return {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}

    g1, g2 = grams(rows[0][1]), grams(rows[1][1])
    sh = len(g1 & g2)
    assert got == {
        (1, 2): (sh, len(g1), len(g2), sh / len(g1), sh / len(g2))
    }
    assert got[(1, 2)][3] == 1.0  # doc 1 fully contained
    # and Jaccard at any sane threshold misses it
    assert (
        jaccard_pairs(df, "text", "doc_id", n=5, threshold=0.5).count() == 0
    )


def test_blocked_shared_counts_match_self_join_reference(spark):
    """The r18 posting-list rewrite of ``_blocked_shared_counts``
    (bounded collect per rare shingle + in-row pair generation,
    replacing the exploded a⋈b self-join) must be row-identical to
    the self-join formulation it replaced — same candidate pair set,
    same shared counts, same in-cap size table — INCLUDING at an
    active ``max_df`` cap, where a dropped hot shingle must vanish
    from both the pairing and the measured sizes."""
    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.dedup import (
        _blocked_shared_counts,
        _hashed_shingles,
    )

    base = "w1 w2 w3 w4 w5 w6 w7 w8"
    boiler = "b1 b2 b3 b4 b5"  # shared by EVERY doc → df = 6
    rows = [
        (1, f"{base} {boiler}"),
        (2, f"{base} x9 {boiler}"),          # near-dup of 1
        (3, f"{base} x9 y7 {boiler}"),       # near-dup of 1 and 2
        (4, f"u1 u2 u3 u4 u5 u6 {boiler}"),  # only boilerplate shared
        (5, f"u1 u2 u3 u4 u5 u6 z1 {boiler}"),
        (6, f"v1 v2 v3 v4 v5 v6 v7 {boiler}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def reference(max_df):
        """The pre-r18 formulation, verbatim: rare filter by join,
        exploded self-join, separate size aggregation."""
        sh = _hashed_shingles(df, "text", "doc_id", 3)
        rare = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_df)
            .select("sh")
        )
        shf = sh.join(rare, "sh")
        sizes = shf.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_shingles")
        )
        a = shf.select(F.col("doc_id").alias("d1"), "sh")
        b = shf.select(F.col("doc_id").alias("d2"), "sh")
        shared = (
            a.join(b, "sh")
            .where(F.col("d1") < F.col("d2"))
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        s1 = sizes.select(
            F.col("doc_id").alias("d1"), F.col("n_shingles").alias("n1")
        )
        s2 = sizes.select(
            F.col("doc_id").alias("d2"), F.col("n_shingles").alias("n2")
        )
        return (
            shared.join(s1, "d1")
            .join(s2, "d2")
            .select("d1", "d2", "shared", "n1", "n2")
        )

    # 1000/5: cap inactive / cap drops the boilerplate (both take the
    # in-row generation). 2000: past _PAIR_GEN_ROW_BUDGET — takes the
    # CHUNKED pair generation (r19: bounds single-row width at
    # caller-raised caps) and must stay row-identical to the reference.
    from full_docker_etl_spark.operators.dedup import _PAIR_GEN_ROW_BUDGET

    assert 2000 * 1999 // 2 > _PAIR_GEN_ROW_BUDGET  # chunked path taken
    for max_df in (1000, 5, 2000):
        got = {
            (r.d1, r.d2): (r.shared, r.n1, r.n2)
            for r in _blocked_shared_counts(
                df, "text", "doc_id", 3, max_df
            ).collect()
        }
        want = {
            (r.d1, r.d2): (r.shared, r.n1, r.n2)
            for r in reference(max_df).collect()
        }
        assert got == want and got, f"max_df={max_df}: {got} != {want}"
    # multi-chunk coverage: shrink the budget so chunk width w = 1 and
    # every 0-based d1 index of these 6-element lists lands in its OWN
    # chunk — the maximal-chunking edge (last chunk holds only the
    # final element, whose partner slice is empty)
    import full_docker_etl_spark.operators.dedup as D

    saved = D._PAIR_GEN_ROW_BUDGET
    D._PAIR_GEN_ROW_BUDGET = 1
    try:
        got = {
            (r.d1, r.d2): (r.shared, r.n1, r.n2)
            for r in _blocked_shared_counts(
                df, "text", "doc_id", 3, 1000
            ).collect()
        }
    finally:
        D._PAIR_GEN_ROW_BUDGET = saved
    want = {
        (r.d1, r.d2): (r.shared, r.n1, r.n2)
        for r in reference(1000).collect()
    }
    assert got == want and got
    # at the active cap the boilerplate-only pairs must be GONE (their
    # only shared shingles were dropped), not merely attenuated:
    # docs 4 and 6 share nothing but the boiler run (unlike 4/5,
    # which also share the rare u-trigrams)
    uncapped = {
        (r.d1, r.d2)
        for r in _blocked_shared_counts(
            df, "text", "doc_id", 3, 1000
        ).collect()
    }
    capped = {
        (r.d1, r.d2)
        for r in _blocked_shared_counts(df, "text", "doc_id", 3, 5).collect()
    }
    assert (4, 6) in uncapped and (4, 6) not in capped
    assert (1, 2) in capped


def test_containment_lsh_ensemble_gap_specs():
    """The per-gap band tuning is pure arithmetic — pin the defaults
    and re-derive the guarantees: every covered gap's worst-case
    detection probability 1-(1-J^r)^b clears the target (or at least
    the floor for the best-effort tail), and the first uncovered gap
    is genuinely past the floor with all k bands."""
    import math

    from full_docker_etl_spark.operators.dedup import _ensemble_gap_specs

    t, k, target, floor = 0.9, 32, 0.95, 0.8
    specs = _ensemble_gap_specs(t, k, target, floor)
    assert specs == [(0, 2, 15), (1, 1, 13), (2, 1, 26), (3, 1, 32)]
    for gap, r, b in specs:
        j = t / (1 + 2 ** (gap + 1) - t)
        p = 1 - (1 - j**r) ** b
        assert p >= (target if b < k // r else floor) - 1e-12, (gap, p)
        assert b <= k // r
    # gap 4 must be past the floor even with every band at r=1
    j4 = t / (1 + 2**5 - t)
    assert 1 - (1 - j4) ** k < floor
    # a permissive floor extends coverage; a strict target never
    # shrinks a covered gap's bands
    assert len(_ensemble_gap_specs(t, k, target, 0.5)) > len(specs)
    assert math.isclose(_ensemble_gap_specs(0.99, k, 0.95, 0.8)[0][0], 0)
    # degenerate parameters must raise loudly, not hang (floor<=0
    # never terminates the gap loop) or divide by zero (threshold=0)
    for bad in (
        dict(threshold=0.0), dict(threshold=1.5),
        dict(floor=0.0), dict(floor=0.99),  # floor > target
        dict(target=1.0),
    ):
        kw = dict(threshold=t, target=target, floor=floor) | bad
        with pytest.raises(ValueError):
            _ensemble_gap_specs(kw["threshold"], k, kw["target"], kw["floor"])
    # max_gap pins the cutoff explicitly: below the floor-derived bound
    # it truncates (a prefix of the default specs — covered gaps keep
    # their tuning), above it it extends best-effort with all k bands
    # at r=1 (recall decays below the floor by construction; the
    # caller opted in)
    assert _ensemble_gap_specs(t, k, target, floor, max_gap=1) == specs[:2]
    wide = _ensemble_gap_specs(t, k, target, floor, max_gap=6)
    assert [g for g, _, _ in wide] == [0, 1, 2, 3, 4, 5, 6]
    assert wide[: len(specs)] == specs
    assert all((r, b) == (1, k) for _, r, b in wide[len(specs):])
    for gap, r, b in wide[len(specs):]:
        j = t / (1 + 2 ** (gap + 1) - t)
        assert 1 - (1 - j**r) ** b < floor  # genuinely past the floor
    with pytest.raises(ValueError):
        _ensemble_gap_specs(t, k, target, floor, max_gap=-1)


def test_containment_lsh_max_gap_truncation_contract(spark):
    """The documented size-ratio cutoff, pinned with planted pairs PAST
    it: short docs fully quoted inside pages with a >16x shingle-set
    size ratio (gap >= 4 at the defaults). The default ensemble must
    MISS them (the documented truncation — a probe only targets gaps
    0..3), the exact :func:`containment_pairs` tier must find them (it
    has no cutoff), and re-running the sketch with ``max_gap=5`` must
    recover them (best-effort wide-gap coverage; detection probability
    ~0.93 per pair at these sizes, deterministic here because xxhash64
    and the corpus are fixed)."""
    import random

    from full_docker_etl_spark.operators.dedup import (
        containment_lsh_pairs,
        containment_pairs,
    )

    rng = random.Random(21)
    words = [f"w{i}" for i in range(4000)]
    rows = []
    for d in range(3):  # short docs: ~46 distinct shingles (p=5)
        rows.append(
            (d, " ".join(rng.choice(words) for _ in range(50)))
        )
    for i in range(3):  # giant pages quoting doc i: >=1100 shingles
        filler = " ".join(rng.choice(words) for _ in range(1100))
        rows.append((100 + i, rows[i][1] + " " + filler))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def n_shingles(t):
        toks = t.split()
        return len({" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)})

    import math

    for i in range(3):  # the plant really is past the covered range
        gap = math.floor(math.log2(n_shingles(rows[3 + i][1]))) - \
            math.floor(math.log2(n_shingles(rows[i][1])))
        assert gap >= 4, (i, gap)

    planted = {(i, 100 + i) for i in range(3)}
    default_pairs = {
        (r.d1, r.d2)
        for r in containment_lsh_pairs(df, "text", "doc_id").collect()
    }
    assert default_pairs & planted == set()  # documented truncation
    exact_pairs = {
        (r.d1, r.d2)
        for r in containment_pairs(df, "text", "doc_id").collect()
    }
    assert planted <= exact_pairs  # the exact tier has no cutoff
    wide_pairs = {
        (r.d1, r.d2)
        for r in containment_lsh_pairs(
            df, "text", "doc_id", max_gap=5
        ).collect()
    }
    assert planted <= wide_pairs  # max_gap recovers the wide-ratio pairs
    assert wide_pairs <= exact_pairs  # precision still 1.0 (verified)


def test_containment_lsh_finds_planted_quotations_values_exact(spark):
    """Differential test vs a naive Python reimplementation: planted
    quotation pairs (short docs concatenated into aggregator pages,
    containment 1.0, size ratio inside the covered gaps) must ALL be
    found, every emitted pair must appear in the naive exact ≥0.9
    containment pair set (precision 1.0 — candidates are verified
    exactly), and shared/n1/n2/c1/c2 must match the naive values.
    Deterministic: xxhash64 and the seeded corpus are both fixed."""
    import random

    from full_docker_etl_spark.operators.dedup import containment_lsh_pairs

    rng = random.Random(7)
    words = [f"w{i}" for i in range(500)]
    rows = []
    for d in range(40):
        rows.append(
            (d, " ".join(rng.choice(words) for _ in range(rng.randint(40, 100))))
        )
    for i in range(10):  # aggregator quoting docs i and i+1 in full
        rows.append((100 + i, rows[i][1] + " " + rows[i + 1][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def grams(t):
        toks = t.split()
        return {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}

    g = {d: grams(t) for d, t in rows}
    naive = {}
    ids = sorted(g)
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1 :]:
            sh = len(g[d1] & g[d2])
            n1, n2 = len(g[d1]), len(g[d2])
            if sh and max(sh / n1, sh / n2) >= 0.9:
                naive[(d1, d2)] = (sh, n1, n2, sh / n1, sh / n2)

    got = {
        (r.d1, r.d2): (r.shared, r.n1, r.n2, r.c1, r.c2)
        for r in containment_lsh_pairs(df, "text", "doc_id").collect()
    }
    # precision 1.0 with exact values
    for pair, vals in got.items():
        assert pair in naive and vals == naive[pair], pair
    # every planted quotation pair is found (sizes sit at ratio ~2-3,
    # i.e. gaps 0-2 — squarely inside the covered range)
    for i in range(10):
        assert (i, 100 + i) in got and got[(i, 100 + i)][3] == 1.0
        assert (i + 1, 100 + i) in got


def test_containment_store_max_gap_meta_roundtrip(spark):
    """max_gap is part of the sketch-parameter contract: a store built
    with it persists it in _meta.json (append re-derives the same
    specs; a probe with a different max_gap raises the loud mismatch),
    and a store persisted BEFORE the knob existed (no max_gap key in
    its meta) reads as the floor-derived default — the exact specs it
    was sketched with — so pre-upgrade stores stay probe-able."""
    import json
    import os
    import random
    import tempfile

    from full_docker_etl_spark.operators.dedup import (
        containment_probe_store,
        containment_store_append,
        containment_store_build,
    )

    rng = random.Random(3)
    words = [f"w{i}" for i in range(500)]
    rows = [
        (d, " ".join(rng.choice(words) for _ in range(60)))
        for d in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    store, batch = df.where("doc_id < 15"), df.where("doc_id >= 15")

    path = tempfile.mkdtemp(prefix="fde_cgap_") + "/store"
    containment_store_build(store, path, "text", "doc_id", max_gap=5)
    assert json.load(open(os.path.join(path, "_meta.json")))["max_gap"] == 5
    containment_store_append(batch, path, "text", "doc_id")
    with pytest.raises(ValueError, match="sketch-parameter mismatch"):
        containment_probe_store(batch, path, "text", "doc_id").collect()
    containment_probe_store(
        batch, path, "text", "doc_id", max_gap=5
    ).collect()

    # pre-upgrade store: strip the key from its meta; probe at the
    # defaults (max_gap=None) must still validate and run
    old = tempfile.mkdtemp(prefix="fde_cgap_old_") + "/store"
    containment_store_build(store, old, "text", "doc_id")
    mpath = os.path.join(old, "_meta.json")
    meta = json.load(open(mpath))
    del meta["max_gap"]
    json.dump(meta, open(mpath, "w"))
    containment_probe_store(batch, old, "text", "doc_id").collect()


def test_containment_store_probe_equals_batch_restricted_full_pairs(spark):
    """The incremental ensemble (build → append → probe) must return
    EXACTLY the batch-touching subset of the from-scratch
    containment_lsh_pairs over store∪batch, values included — the
    candidate sets differ only by store×store collisions, which are
    precisely the non-batch-touching pairs, and the bucket cap sums
    persisted counts with batch counts so capping decisions match.
    Pair orientation differs by contract (d1 = store side for cross
    pairs), so compare id-normalized. Also: mismatched parameters must
    raise, and a retried batch (ids already in the store) must never
    pair a doc with itself."""
    import random
    import tempfile

    from full_docker_etl_spark.operators.dedup import (
        containment_lsh_pairs,
        containment_probe_store,
        containment_store_append,
        containment_store_build,
    )

    rng = random.Random(7)
    words = [f"w{i}" for i in range(500)]
    rows = []
    for d in range(40):
        rows.append(
            (d, " ".join(rng.choice(words) for _ in range(rng.randint(40, 100))))
        )
    for i in range(10):
        rows.append((100 + i, rows[i][1] + " " + rows[i + 1][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = df.where("doc_id % 10 = 0")
    store = df.where("doc_id % 10 != 0")
    path = tempfile.mkdtemp(prefix="fde_cstore_") + "/store"
    containment_store_build(store.where("doc_id % 2 = 1"), path, "text", "doc_id")
    containment_store_append(store.where("doc_id % 2 != 1"), path, "text", "doc_id")

    def norm(rows):
        out = {}
        for r in rows:
            if r.d1 <= r.d2:
                out[(r.d1, r.d2)] = (r.shared, r.n1, r.n2)
            else:  # orientation flip swaps the per-side set sizes too
                out[(r.d2, r.d1)] = (r.shared, r.n2, r.n1)
        return out

    inc = norm(containment_probe_store(batch, path, "text", "doc_id").collect())
    full = norm(containment_lsh_pairs(df, "text", "doc_id").collect())
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    touching = {
        p: v for p, v in full.items() if p[0] in batch_ids or p[1] in batch_ids
    }
    assert inc == touching and inc  # non-vacuous: planted pairs touch batch

    with pytest.raises(ValueError, match="sketch-parameter mismatch"):
        containment_probe_store(batch, path, "text", "doc_id", k=64)

    # retried batch: its ids are now IN the store; re-probing must not
    # emit (X, X) self-pairs, and each logical pair must surface as
    # EXACTLY ONE row — with the store-flagged orientation preferred
    # (a retried doc exists on both sides, so the same pair would
    # otherwise appear as both a cross row and a batch×batch row with
    # contradictory d1_in_store)
    containment_store_append(batch, path, "text", "doc_id")
    retry = containment_probe_store(batch, path, "text", "doc_id").collect()
    assert all(r.d1 != r.d2 for r in retry)
    keys = [(min(r.d1, r.d2), max(r.d1, r.d2)) for r in retry]
    assert len(keys) == len(set(keys)), "duplicate rows for one pair"
    assert retry and all(r.d1_in_store for r in retry)
    # and the retried probe still finds the same logical pairs
    assert set(keys) == set(inc)


def _quote_corpus(spark, seed=7, n_docs=30, n_quotes=8):
    import random

    rng = random.Random(seed)
    words = [f"w{i}" for i in range(400)]
    rows = [
        (d, " ".join(rng.choice(words) for _ in range(rng.randint(40, 90))))
        for d in range(n_docs)
    ]
    for i in range(n_quotes):
        rows.append((100 + i, rows[i][1] + " " + rows[i + 1][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_store_append_crash_retry_no_double_count(
    spark, monkeypatch
):
    """Round-15 review finding: the store's three physical writes were
    non-atomic — a crash between them followed by a retried append
    double-appended partial rollups, silently tripping the max_bucket
    cap early. Now each build/append lands under a fresh batch
    partition and publishes via an atomic manifest: a write that dies
    before publishing is INVISIBLE to probes, a retry re-lands cleanly,
    and vacuum reclaims exactly the orphan."""
    import os
    import tempfile

    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark)
    batch = df.where("doc_id % 10 = 0")
    store = df.where("doc_id % 10 != 0")
    half_a = store.where("doc_id % 2 = 1")
    half_b = store.where("doc_id % 2 != 1")

    def norm(rows):
        return {(min(r.d1, r.d2), max(r.d1, r.d2)) for r in rows}

    # reference: the same store built without any crash
    ref_path = tempfile.mkdtemp(prefix="fde_cref_") + "/store"
    D.containment_store_build(half_a, ref_path, "text", "doc_id")
    D.containment_store_append(half_b, ref_path, "text", "doc_id")
    want = norm(D.containment_probe_store(batch, ref_path, "text", "doc_id").collect())
    assert want  # non-vacuous: planted quotations touch the batch

    path = tempfile.mkdtemp(prefix="fde_catomic_") + "/store"
    D.containment_store_build(half_a, path, "text", "doc_id")

    # crash the append AFTER all three data writes, BEFORE the publish
    real_publish = D._store_manifest_publish

    def boom(p, batch_id, schemas=None):
        raise RuntimeError("simulated crash before manifest publish")

    monkeypatch.setattr(D, "_store_manifest_publish", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        D.containment_store_append(half_b, path, "text", "doc_id")
    monkeypatch.setattr(D, "_store_manifest_publish", real_publish)

    # the orphan partitions exist on disk but no probe can see them
    committed = set(D._store_manifest(path))
    on_disk = {
        e.split("=", 1)[1]
        for e in os.listdir(os.path.join(path, "counts"))
        if e.startswith("batch=")
    }
    orphans = on_disk - committed
    assert len(orphans) == 1  # the crashed append's unpublished batch

    # retried append: results must match the crash-free store exactly
    # (the old non-atomic layout double-counted /counts here, tripping
    # the bucket cap early and LOSING candidate pairs)
    D.containment_store_append(half_b, path, "text", "doc_id")
    got = norm(D.containment_probe_store(batch, path, "text", "doc_id").collect())
    assert got == want

    # vacuum removes exactly the orphan, and the store still serves
    removed = D.store_vacuum(path)
    assert set(removed) == orphans
    for table in ("docs", "bands", "counts"):
        left = {
            e.split("=", 1)[1]
            for e in os.listdir(os.path.join(path, table))
            if e.startswith("batch=")
        }
        assert left == set(D._store_manifest(path))
    got2 = norm(D.containment_probe_store(batch, path, "text", "doc_id").collect())
    assert got2 == want

    # a store whose BUILD died pre-publish refuses reads and appends
    dead = tempfile.mkdtemp(prefix="fde_cdead_") + "/store"
    monkeypatch.setattr(D, "_store_manifest_publish", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        D.containment_store_build(half_a, dead, "text", "doc_id")
    monkeypatch.setattr(D, "_store_manifest_publish", real_publish)
    with pytest.raises(FileNotFoundError, match="not a committed"):
        D.containment_probe_store(batch, dead, "text", "doc_id").collect()
    with pytest.raises(FileNotFoundError, match="not a committed"):
        D.containment_store_append(half_b, dead, "text", "doc_id")


@pytest.mark.parametrize(
    "family, parent_fn",
    [("containment", "_ensemble_docs"), ("minhash", "minhash_signature_array")],
)
def test_store_write_failure_releases_persisted_parent(
    spark, tmp_path, monkeypatch, family, parent_fn
):
    """A store write whose table write raises must still release the
    persisted parent the writes share, and must publish nothing: the
    append's batch stays invisible and the manifest keeps exactly the
    batches committed before it."""
    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark)
    build = getattr(D, f"{family}_store_build")
    append = getattr(D, f"{family}_store_append")
    path = str(tmp_path / "store")
    build(df.where("doc_id % 2 = 0"), path, "text", "doc_id")
    committed = D._store_manifest(path)

    parents = []
    real_parent_fn = getattr(D, parent_fn)

    def capture(*args, **kwargs):
        out = real_parent_fn(*args, **kwargs)
        parents.append(out)
        return out

    real_concurrently = D.concurrently

    def fail_last_write(*thunks):
        def boom():
            raise RuntimeError("simulated store write failure")

        real_concurrently(*thunks[:-1], boom)

    monkeypatch.setattr(D, parent_fn, capture)
    monkeypatch.setattr(D, "concurrently", fail_last_write)
    with pytest.raises(RuntimeError, match="simulated store write failure"):
        append(df.where("doc_id % 2 = 1"), path, "text", "doc_id")

    assert len(parents) == 1
    assert not parents[0].is_cached
    assert D._store_manifest(path) == committed


def test_store_compact_containment_folds_batches_same_results(spark):
    """Compaction folds N committed batches into one (small-file
    reclaim after many incremental appends), re-aggregates the
    additive /counts partials, and publishes atomically: probe results
    must be identical before and after, the manifest must name exactly
    one batch, and vacuum must reclaim the displaced ones."""
    import os
    import tempfile

    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark)
    batch = df.where("doc_id % 10 = 0")
    path = tempfile.mkdtemp(prefix="fde_ccomp_") + "/store"
    D.containment_store_build(df.where("doc_id % 10 = 1"), path, "text", "doc_id")
    D.containment_store_append(df.where("doc_id % 10 = 2"), path, "text", "doc_id")
    D.containment_store_append(
        df.where("doc_id % 10 not in (0, 1, 2)"), path, "text", "doc_id"
    )
    assert len(D._store_manifest(path)) == 3

    def norm(rows):
        return {
            (min(r.d1, r.d2), max(r.d1, r.d2)): (r.shared, r.c1, r.c2)
            for r in rows
        }

    before = norm(D.containment_probe_store(batch, path, "text", "doc_id").collect())
    assert before  # non-vacuous
    counts_rows_before = (
        spark.read.parquet(path + "/counts").count()
    )

    # plan a probe UNDER THE OLD MANIFEST before compacting — the race
    # the deferred vacuum exists for: the flip must not pull committed
    # files out from under an in-flight plan
    inflight = D.containment_probe_store(batch, path, "text", "doc_id")

    displaced = D.store_compact(spark, path)
    assert len(displaced) == 3
    assert len(D._store_manifest(path)) == 1

    # the pre-compaction plan still serves (its files were displaced,
    # not deleted) and a fresh plan sees the folded batch — identical
    assert norm(inflight.collect()) == before
    after = norm(D.containment_probe_store(batch, path, "text", "doc_id").collect())
    assert after == before

    # compaction DEFERS deletion of the displaced batches to an
    # explicit vacuum (run once pre-compaction probes drain)
    for table in ("docs", "bands", "counts"):
        parts = [
            e for e in os.listdir(os.path.join(path, table))
            if e.startswith("batch=")
        ]
        assert len(parts) == 4  # folded + 3 displaced awaiting vacuum
    assert D.store_vacuum(path) == sorted(displaced)
    assert D.store_vacuum(path) == []
    for table in ("docs", "bands", "counts"):
        parts = [
            e for e in os.listdir(os.path.join(path, table))
            if e.startswith("batch=")
        ]
        assert len(parts) == 1
    # the additive /counts partials collapsed to one row per bucket
    counts = spark.read.parquet(path + "/counts")
    assert counts.count() < counts_rows_before
    assert counts.groupBy("p", "r", "band", "bucket").count().where(
        "count > 1"
    ).count() == 0

    # probes still serve after vacuum, and a ≤1-batch store is a no-op
    assert norm(
        D.containment_probe_store(batch, path, "text", "doc_id").collect()
    ) == before
    assert D.store_compact(spark, path) == []


def test_store_manifest_lock_and_compact_replace_guard(spark, tmp_path):
    """Single-writer violations must fail LOUDLY, never lose a batch:
    (a) a manifest publish while another writer holds the lock raises
    (without the lock, two concurrent appends' read-modify-writes
    would silently drop one committed batch); (b) compaction's final
    manifest flip raises if the manifest moved under it (a concurrent
    append would otherwise be erased from the committed set); (c) a
    crashed writer's stale lockfile produces the documented loud error
    on the next publish, and removing it unblocks."""
    import os

    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark)
    path = str(tmp_path / "lstore")
    D.containment_store_build(df.where("doc_id < 10"), path, "text", "doc_id")

    lock = D._store_manifest_path(path) + ".lock"
    open(lock, "w").write("424242")  # another writer mid-publish
    with pytest.raises(RuntimeError, match="concurrent store-manifest"):
        D.containment_store_append(
            df.where("doc_id >= 10 and doc_id < 15"), path, "text", "doc_id"
        )
    os.unlink(lock)  # the documented operator recovery
    D.containment_store_append(
        df.where("doc_id >= 15 and doc_id < 20"), path, "text", "doc_id"
    )
    committed = D._store_manifest(path)
    assert len(committed) == 2  # the failed append published nothing

    # compaction raced by an append: the expected-manifest snapshot no
    # longer matches -> the flip refuses, the committed set is intact
    with pytest.raises(RuntimeError, match="changed during compaction"):
        D._store_manifest_replace(path, ["not-the-manifest"], ["folded"])
    assert D._store_manifest(path) == committed


def _backdate_displaced_stamps(
    path, batch_ids, ts: float = 1_000_000_000.0
) -> None:
    """Age the manifest's displaced-at stamps (simulates the vacuum
    grace window elapsing without sleeping)."""
    from full_docker_etl_spark.operators import dedup as D

    doc = D._store_manifest_load(path)
    for b in batch_ids:
        doc["displaced"][b] = ts
    D._store_manifest_write(path, doc["batches"], doc["displaced"])


def test_store_vacuum_grace_window(spark, tmp_path):
    """vacuum(older_than_seconds=N) must skip displaced/orphan batches
    younger than the grace window (the safe-next-to-a-probe-fleet
    retention policy) and reclaim them once aged — here by backdating
    the manifest's displaced-at stamps instead of sleeping."""
    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark, n_docs=12, n_quotes=0)
    path = str(tmp_path / "gstore")
    D.minhash_store_build(df.where("doc_id < 6"), path, "text", "doc_id")
    D.minhash_store_append(df.where("doc_id >= 6"), path, "text", "doc_id")
    displaced = D.store_compact(spark, path)
    assert len(displaced) == 2

    # the flip stamped every displaced id in the manifest, atomically
    doc = D._store_manifest_load(path)
    assert sorted(doc["displaced"]) == sorted(displaced)
    # fresh displaced batches sit inside the window: nothing removed
    assert D.store_vacuum(path, older_than_seconds=3600) == []
    # age them past the window and the same call reclaims them
    _backdate_displaced_stamps(path, displaced)
    assert D.store_vacuum(path, older_than_seconds=3600) == sorted(
        displaced
    )


def test_store_vacuum_grace_clock_starts_at_displacement(spark, tmp_path):
    """The vacuum grace window must measure from DISPLACEMENT, not
    from write: a batch written long before the window but displaced
    by a just-finished compaction is still inside an in-flight probe's
    plan, so vacuum(older_than_seconds=SLA) must skip it. Pre-fix,
    vacuum compared against the directory mtime = write time and
    deleted such batches immediately (the r16 advice finding)."""
    import os

    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark, n_docs=12, n_quotes=0)
    path = str(tmp_path / "dstore")
    D.minhash_store_build(df.where("doc_id < 6"), path, "text", "doc_id")
    D.minhash_store_append(df.where("doc_id >= 6"), path, "text", "doc_id")
    committed = D._store_manifest(path)
    # backdate the COMMITTED batch dirs: written ages ago
    for table in ("sigs", "bands"):
        for b in committed:
            os.utime(
                os.path.join(path, table, f"batch={b}"),
                (1_000_000_000, 1_000_000_000),
            )
    displaced = D.store_compact(spark, path)
    assert sorted(displaced) == sorted(committed)
    # the flip stamped displacement time in the manifest, so the grace
    # window protects the batches despite their ancient write time
    assert D.store_vacuum(path, older_than_seconds=3600) == []
    for table in ("sigs", "bands"):
        for b in displaced:
            assert os.path.isdir(os.path.join(path, table, f"batch={b}"))
    # once the displacement clock ages out, the same call reclaims
    _backdate_displaced_stamps(path, displaced)
    assert D.store_vacuum(path, older_than_seconds=3600) == sorted(
        displaced
    )


def test_store_vacuum_grace_survives_synthesized_mtimes(spark, tmp_path):
    """The displacement clock must live in the MANIFEST, not the
    filesystem: on an object-store gateway that synthesizes directory
    mtimes, the touch-at-flip is lost, so a grace window measured by
    mtime could reclaim a just-displaced batch under an in-flight
    probe. Here the displaced dirs' mtimes are forced ANCIENT after
    the flip (the worst synthesized value) — vacuum must still honor
    the manifest stamp and skip them."""
    import os

    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark, n_docs=12, n_quotes=0)
    path = str(tmp_path / "sstore")
    D.minhash_store_build(df.where("doc_id < 6"), path, "text", "doc_id")
    D.minhash_store_append(df.where("doc_id >= 6"), path, "text", "doc_id")
    displaced = D.store_compact(spark, path)
    # simulate an mtime-destroying filesystem: every displaced dir
    # reads ancient, only the manifest stamp knows the flip was now
    for table in ("sigs", "bands"):
        for b in displaced:
            os.utime(
                os.path.join(path, table, f"batch={b}"),
                (1_000_000_000, 1_000_000_000),
            )
    assert D.store_vacuum(path, older_than_seconds=3600) == []
    # stats uses the same clock precedence: the orphans read fresh
    st = D.store_stats(path)
    assert st["orphan_batches"] == len(displaced)
    assert st["oldest_orphan_age_s"] < 3600


def test_store_manifest_displaced_stamps_pruned(spark, tmp_path):
    """Stamps for batches a past vacuum reclaimed are pruned at the
    next compaction flip (same lock, same atomic write), so the
    displaced map stays bounded by the orphans actually on disk."""
    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark, n_docs=18, n_quotes=0)
    path = str(tmp_path / "pstore")
    D.minhash_store_build(df.where("doc_id < 6"), path, "text", "doc_id")
    D.minhash_store_append(
        df.where("doc_id >= 6 AND doc_id < 12"), path, "text", "doc_id"
    )
    first = D.store_compact(spark, path)
    _backdate_displaced_stamps(path, first)
    assert D.store_vacuum(path, older_than_seconds=3600) == sorted(
        first
    )
    # reclaimed ids still carry stamps until the next flip prunes them
    assert sorted(D._store_manifest_load(path)["displaced"]) == sorted(first)
    D.minhash_store_append(df.where("doc_id >= 12"), path, "text", "doc_id")
    second = D.store_compact(spark, path)
    doc = D._store_manifest_load(path)
    assert sorted(doc["displaced"]) == sorted(second)  # first's pruned


def test_store_vacuum_pre_stamp_manifest_falls_back_to_mtime(
    spark, tmp_path
):
    """A manifest written before the displaced map existed (bare
    ``{"batches": [...]}``) must still load, and its orphans must
    fall back to the directory-mtime grace clock."""
    import json
    import os

    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark, n_docs=12, n_quotes=0)
    path = str(tmp_path / "ostore")
    D.minhash_store_build(df.where("doc_id < 6"), path, "text", "doc_id")
    D.minhash_store_append(df.where("doc_id >= 6"), path, "text", "doc_id")
    displaced = D.store_compact(spark, path)
    # rewrite the manifest in the pre-stamp schema
    doc = D._store_manifest_load(path)
    with open(D._store_manifest_path(path), "w") as fh:
        json.dump({"batches": doc["batches"]}, fh)
    # fresh mtimes (the touch-at-flip) keep the orphans inside grace
    assert D.store_vacuum(path, older_than_seconds=3600) == []
    for table in ("sigs", "bands"):
        for b in displaced:
            os.utime(
                os.path.join(path, table, f"batch={b}"),
                (1_000_000_000, 1_000_000_000),
            )
    assert D.store_vacuum(path, older_than_seconds=3600) == sorted(
        displaced
    )


def test_store_migrate_publishes_under_manifest_lock(tmp_path):
    """store_migrate's one-shot manifest publish honours the same
    single-writer loud-failure contract as build/append/compact: a
    concurrent writer's lockfile makes it raise instead of silently
    interleaving (the r16 advice finding). Driver-side only — no
    Spark session needed."""
    import json
    import os

    from full_docker_etl_spark.operators import dedup as D

    path = str(tmp_path / "mstore")
    os.makedirs(path)
    with open(os.path.join(path, "_meta.json"), "w") as fh:
        json.dump({"n": 5, "k": 32, "bands": 8}, fh)
    open(D._store_manifest_path(path) + ".lock", "w").write("424242")
    with pytest.raises(RuntimeError, match="concurrent store-manifest"):
        D.store_migrate(path)
    assert not os.path.exists(D._store_manifest_path(path))
    os.unlink(D._store_manifest_path(path) + ".lock")
    batch = D.store_migrate(path)
    assert D._store_manifest(path) == [batch]


def test_containment_store_spec_drift_guard(spark, tmp_path):
    """The derived band specs persist in _meta.json at build time and
    are validated at probe AND append time: a store whose recorded
    specs differ from what the current release derives (a future
    rounding-edge change in _ensemble_gap_specs) fails LOUDLY instead
    of silently losing index/probe bucket overlap (the r16 advice
    finding). A pre-r17 store (no gap_specs key) stays probe-able on
    the re-derivation path."""
    import json
    import os

    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark)
    store_docs = df.where("doc_id % 5 != 0")
    batch = df.where("doc_id % 5 = 0")
    path = str(tmp_path / "spstore")
    D.containment_store_build(store_docs, path, "text", "doc_id")

    mpath = os.path.join(path, "_meta.json")
    meta = json.load(open(mpath))
    # build recorded exactly the specs the parameters derive
    assert [tuple(s) for s in meta["gap_specs"]] == D._ensemble_gap_specs(
        meta["threshold"], meta["k"],
        meta["target_recall"], meta["floor_recall"], meta["max_gap"],
    )

    # simulate a derivation change: the store's recorded specs no
    # longer match what this release derives -> probe and append raise
    drifted = dict(meta)
    drifted["gap_specs"] = [
        [g, r, b + 1] for g, r, b in meta["gap_specs"]
    ]
    json.dump(drifted, open(mpath, "w"))
    with pytest.raises(ValueError, match="band-spec drift"):
        D.containment_probe_store(batch, path, "text", "doc_id").collect()
    with pytest.raises(ValueError, match="band-spec drift"):
        D.containment_store_append(batch, path, "text", "doc_id")

    # pre-r17 store: no gap_specs recorded -> re-derivation path runs
    legacy = dict(meta)
    del legacy["gap_specs"]
    json.dump(legacy, open(mpath, "w"))
    D.containment_probe_store(batch, path, "text", "doc_id").collect()

    # restore the true meta: probe serves normally again
    json.dump(meta, open(mpath, "w"))
    assert D.containment_probe_store(
        batch, path, "text", "doc_id"
    ).count() >= 0


#: Store family -> its physical tables.
_STORE_FAMILIES = {
    "containment": ("docs", "bands", "counts"),
    "minhash": ("sigs", "bands"),
    "substring": ("fps", "counts"),
    "df": ("counts",),
}


@pytest.mark.parametrize(
    "family, table",
    [(family, tables[0])
     for family, tables in sorted(_STORE_FAMILIES.items())],
)
def test_store_stats_maintenance_snapshot(spark, tmp_path, family, table):
    """store_stats must report exactly what a maintenance scheduler
    needs, for every store family: committed batch count grows with
    appends, the census covers committed files only, compaction's
    displaced batches show up as orphans with an age, and vacuum zeroes
    them."""
    from full_docker_etl_spark.operators import dedup as D

    build = getattr(D, f"{family}_store_build")
    append = getattr(D, f"{family}_store_append")
    df = _quote_corpus(spark, n_docs=12, n_quotes=0)
    path = str(tmp_path / "sstore")
    build(df.where("doc_id < 6"), path, "text", "doc_id")
    s1 = D.store_stats(path)
    assert s1["committed_batches"] == 1 and s1["orphan_batches"] == 0
    assert s1["tables"][table]["files"] > 0
    assert s1["tables"][table]["bytes"] > 0

    append(df.where("doc_id >= 6"), path, "text", "doc_id")
    s2 = D.store_stats(path)
    assert s2["committed_batches"] == 2
    assert s2["tables"][table]["files"] > s1["tables"][table]["files"]

    displaced = D.store_compact(spark, path)
    s3 = D.store_stats(path)
    assert s3["committed_batches"] == 1
    assert s3["orphan_batches"] == len(displaced) == 2
    assert s3["oldest_orphan_age_s"] is not None
    assert s3["oldest_orphan_age_s"] >= 0.0
    # census counts committed partitions only — orphans excluded
    assert s3["tables"][table]["files"] < s2["tables"][table]["files"] + \
        s1["tables"][table]["files"]

    D.store_vacuum(path)
    s4 = D.store_stats(path)
    assert s4["orphan_batches"] == 0 and s4["oldest_orphan_age_s"] is None


@pytest.mark.parametrize("family", sorted(_STORE_FAMILIES))
def test_store_compact_single_batch_is_noop(spark, tmp_path, family):
    """A store with one committed batch is already folded: store_compact
    returns no displaced batch for every family, and leaves the manifest
    and the batch directories as they were."""
    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark, n_docs=12, n_quotes=0)
    path = str(tmp_path / "store")
    getattr(D, f"{family}_store_build")(df, path, "text", "doc_id")
    with open(D._store_manifest_path(path)) as fh:
        manifest = fh.read()
    dirs = _batch_dirs(path)

    assert D.store_compact(spark, path) == []
    with open(D._store_manifest_path(path)) as fh:
        assert fh.read() == manifest
    assert _batch_dirs(path) == dirs


def test_store_maintain_policy_loop(spark, tmp_path):
    """store_maintain is the documented consumer of store_stats —
    an append loop drives stats→compact→vacuum end-to-end: below the
    batch budget it's a no-op, above it compaction folds the committed
    set to one batch, displaced partitions survive a grace-window
    vacuum (in-flight probe safety) and are reclaimed once aged, and
    probe results are invariant across the whole maintenance pass."""
    import os

    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark, n_docs=20, n_quotes=4)
    probe_batch = df.where("doc_id >= 16")
    path = str(tmp_path / "pstore")
    D.minhash_store_build(df.where("doc_id < 4"), path, "text", "doc_id")
    for lo in (4, 8, 12):
        D.minhash_store_append(
            df.where(f"doc_id >= {lo} and doc_id < {lo + 4}"),
            path, "text", "doc_id",
        )

    def probe_pairs():
        return {
            (min(r.d1, r.d2), max(r.d1, r.d2))
            for r in D.minhash_probe_store(
                probe_batch, path, "text", "doc_id"
            ).collect()
        }

    want = probe_pairs()

    # 4 committed batches, budget 8: nothing to do
    r1 = D.store_maintain(spark, path, max_batches=8)
    assert not r1["compacted"] and r1["vacuumed"] == []
    assert r1["after"]["committed_batches"] == 4

    # budget 3: compaction folds 4 -> 1; the displaced batches are
    # inside the probe grace window, so vacuum must leave them on disk
    r2 = D.store_maintain(
        spark, path, max_batches=3, probe_grace_seconds=3600
    )
    assert r2["compacted"] and len(r2["displaced"]) == 4
    assert r2["vacuumed"] == []
    assert r2["after"]["committed_batches"] == 1
    assert r2["after"]["orphan_batches"] == 4
    assert probe_pairs() == want

    # probes drained (simulated by ageing the displacement clock):
    # the next scheduled pass reclaims the orphans, compacts nothing
    _backdate_displaced_stamps(path, r2["displaced"])
    r3 = D.store_maintain(
        spark, path, max_batches=3, probe_grace_seconds=3600
    )
    assert not r3["compacted"]
    assert sorted(r3["vacuumed"]) == sorted(r2["displaced"])
    assert r3["after"]["orphan_batches"] == 0
    assert probe_pairs() == want and want

    # the file-count budget is the second compaction trigger: one
    # committed batch, but a census over the probe budget -> compact
    # fires (a no-op fold at 1 batch), and a generous budget doesn't
    files_now = sum(
        t["files"] for t in r3["after"]["tables"].values()
    )
    r4 = D.store_maintain(
        spark, path, max_batches=8, probe_grace_seconds=3600,
        max_committed_files=files_now - 1,
    )
    assert r4["compacted"]
    r5 = D.store_maintain(
        spark, path, max_batches=8, probe_grace_seconds=3600,
        max_committed_files=files_now * 100,
    )
    assert not r5["compacted"]
    assert probe_pairs() == want


def test_store_build_reset_refuses_non_store_directory(spark, tmp_path):
    """*_store_build clears its target — but only an empty directory
    or one that looks like a store (_meta.json/_manifest.json); a path
    mistakenly pointing at a directory holding other data must raise,
    not silently destroy it."""
    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark, n_docs=6, n_quotes=0)

    precious = tmp_path / "precious"
    precious.mkdir()
    (precious / "thesis.txt").write_text("years of work")
    with pytest.raises(ValueError, match="does not look like a sketch"):
        D.containment_store_build(df, str(precious), "text", "doc_id")
    assert (precious / "thesis.txt").read_text() == "years of work"

    # an existing STORE rebuilds fine (both fresh-empty and over-store)
    store = str(tmp_path / "store")
    D.containment_store_build(df, store, "text", "doc_id")
    D.containment_store_build(df, store, "text", "doc_id")
    assert len(D._store_manifest(store)) == 1


def test_store_migrate_pre_manifest_layout(spark, tmp_path):
    """A store persisted by the pre-manifest release (flat tables, no
    _manifest.json) is unreadable by design — the migrate helper folds
    it into ONE published batch by MOVING files (no re-sketching), and
    probes then serve identically to a store built by the current
    release. A half-migrated layout (batch= dirs, no manifest)
    refuses."""
    import os
    import shutil

    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark)
    store_docs, batch = df.where("doc_id % 5 != 0"), df.where("doc_id % 5 = 0")

    ref = str(tmp_path / "ref")
    D.containment_store_build(store_docs, ref, "text", "doc_id")
    want = {
        (min(r.d1, r.d2), max(r.d1, r.d2)): (r.shared, r.n1, r.n2)
        if r.d1 <= r.d2 else (r.shared, r.n2, r.n1)
        for r in D.containment_probe_store(
            batch, ref, "text", "doc_id"
        ).collect()
    }

    # forge the pre-manifest layout from a real store: flatten each
    # table's single batch dir up a level, drop the manifest
    old = str(tmp_path / "old")
    shutil.copytree(ref, old)
    os.unlink(D._store_manifest_path(old))
    for table in ("docs", "bands", "counts"):
        tdir = os.path.join(old, table)
        (bdir,) = [e for e in os.listdir(tdir) if e.startswith("batch=")]
        for entry in os.listdir(os.path.join(tdir, bdir)):
            os.rename(
                os.path.join(tdir, bdir, entry), os.path.join(tdir, entry)
            )
        os.rmdir(os.path.join(tdir, bdir))
    # pre-r17 _meta.json recorded no gap_specs — strip them so the
    # migration's pin step has real work to do
    import json

    with open(os.path.join(old, "_meta.json")) as fh:
        old_meta = json.load(fh)
    pinned_specs = old_meta.pop("gap_specs")
    with open(os.path.join(old, "_meta.json"), "w") as fh:
        json.dump(old_meta, fh)

    with pytest.raises(FileNotFoundError, match="store_migrate"):
        D.containment_probe_store(batch, old, "text", "doc_id").collect()
    D.containment_store_migrate(old)
    # migration pinned the derived specs: the drift guard is active on
    # the migrated store, matching what the reference store was built
    # with (same release, same parameters)
    assert D._containment_store_meta(old)["gap_specs"] == pinned_specs
    # pinning again is an idempotent no-op on the recorded specs
    assert [
        list(s) for s in D.containment_store_pin_specs(old)
    ] == pinned_specs
    got = {
        (min(r.d1, r.d2), max(r.d1, r.d2)): (r.shared, r.n1, r.n2)
        if r.d1 <= r.d2 else (r.shared, r.n2, r.n1)
        for r in D.containment_probe_store(
            batch, old, "text", "doc_id"
        ).collect()
    }
    assert got == want and want
    # the migrated store appends/compacts like a native one
    D.containment_store_append(batch, old, "text", "doc_id")
    assert len(D._store_manifest(old)) == 2

    # migrating twice, or migrating a half-written layout, refuses
    with pytest.raises(ValueError, match="nothing to migrate"):
        D.containment_store_migrate(old)
    half = str(tmp_path / "half")
    shutil.copytree(ref, half)
    os.unlink(D._store_manifest_path(half))
    with pytest.raises(ValueError, match="died half-way"):
        D.containment_store_migrate(half)


def test_store_migrate_substring_nested_bucket_partitions(spark, tmp_path):
    """The migrate helper must also handle a table whose pre-manifest
    layout is itself hive-partitioned (substring /fps carries bkt=
    subdirs): the moved layout becomes batch=<id>/bkt=<b>, exactly
    what the current writer produces, and probe output matches a
    native store byte for byte."""
    import os
    import shutil

    from full_docker_etl_spark.operators import dedup as D

    docs = _quote_corpus(spark, seed=11)
    store_docs = docs.where("doc_id % 5 != 0")
    batch = docs.where("doc_id % 5 = 0")

    ref = str(tmp_path / "ref")
    D.substring_store_build(store_docs, ref, "text", "doc_id")
    want = {
        tuple(r)
        for r in D.substring_probe_store(batch, ref, "text", "doc_id").collect()
    }

    old = str(tmp_path / "old")
    shutil.copytree(ref, old)
    os.unlink(D._store_manifest_path(old))
    for table in ("fps", "counts"):
        tdir = os.path.join(old, table)
        (bdir,) = [e for e in os.listdir(tdir) if e.startswith("batch=")]
        for entry in os.listdir(os.path.join(tdir, bdir)):
            os.rename(
                os.path.join(tdir, bdir, entry), os.path.join(tdir, entry)
            )
        os.rmdir(os.path.join(tdir, bdir))
    assert any(
        e.startswith("bkt=") for e in os.listdir(os.path.join(old, "fps"))
    )  # the forged layout really is the nested pre-manifest shape

    D.store_migrate(old)
    got = {
        tuple(r)
        for r in D.substring_probe_store(batch, old, "text", "doc_id").collect()
    }
    assert got == want and want
    D.substring_store_append(batch, old, "text", "doc_id")
    assert len(D._store_manifest(old)) == 2


def _per_scheme_union_rows(docs, schemes):
    """The per-scheme band-row formulation ``_ensemble_rows`` replaced:
    one scan and one sequence-explode per scheme, unioned — the
    reference the one-scan generator must reproduce row for row (stores
    written by it must stay probe-compatible)."""
    out = None
    for shift, r, nb in schemes:
        part = docs.select(
            "doc_id", "sz",
            (F.col("p") + shift).alias("p"), "sig",
            F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("band"),
        ).select(
            "doc_id", "sz", "p",
            F.lit(r).alias("r"), "band",
            F.xxhash64(
                F.slice("sig", F.col("band") * r + 1, r)
            ).alias("bucket"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def test_ensemble_rows_one_scan_matches_per_scheme_union(spark):
    """_ensemble_rows builds every scheme's band rows from ONE scan of
    its input: the same schema and the same multiset of (doc_id, sz, p,
    r, band, bucket) as the per-scheme union for the default probe
    specs, a widened max_gap and the index schemes, and an executed
    plan over a persisted frame that scans it exactly once (the union
    scans it once per scheme, each scan its own job under AQE)."""
    from collections import Counter

    from full_docker_etl_spark.operators import dedup as D

    docs = D._ensemble_docs(
        _quote_corpus(spark), "text", "doc_id", 5, 32
    ).cache()
    try:
        specs = D._ensemble_gap_specs(0.9, 32, 0.95, 0.8)
        wide = D._ensemble_gap_specs(0.9, 32, 0.95, 0.8, max_gap=5)
        for schemes in (specs, wide, D._ensemble_index_schemes(specs)):
            want = _per_scheme_union_rows(docs, schemes)
            got = D._ensemble_rows(docs, schemes)
            assert got.schema == want.schema
            want_rows = Counter(want.collect())
            assert want_rows  # non-vacuous
            assert Counter(got.collect()) == want_rows, schemes

        rows = D._ensemble_rows(docs, specs)
        rows.collect()
        plan = rows._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") == 1, plan
    finally:
        docs.unpersist()


def _partition_filters(df) -> str:
    """The scan's PartitionFilters with expression ids stripped."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    (found,) = re.findall(r"PartitionFilters: (\[.*?\]), PushedFilters", plan)
    return re.sub(r"#\d+L?", "", found)


def _batch_dirs(path) -> dict:
    import os

    return {
        table: sorted(os.listdir(os.path.join(path, table)))
        for table in sorted(os.listdir(path))
        if os.path.isdir(os.path.join(path, table))
    }


@pytest.mark.parametrize("family", sorted(_STORE_FAMILIES))
def test_store_tables_open_with_pinned_schema_and_no_job(
    spark, tmp_path, family
):
    """Every store write pins its tables' data schemas in the manifest
    with the first batch; after build + append each committed table
    opens with that schema and starts no job (no footer inference),
    with the schema and the ``batch IN (...)`` PartitionFilters a plain
    inferring read of the table root gives."""
    from full_docker_etl_spark.operators import dedup as D

    tables = _STORE_FAMILIES[family]
    df = _quote_corpus(spark)
    path = str(tmp_path / "store")
    getattr(D, f"{family}_store_build")(
        df.where("doc_id % 2 = 0"), path, "text", "doc_id"
    )
    getattr(D, f"{family}_store_append")(
        df.where("doc_id % 2 = 1"), path, "text", "doc_id"
    )
    doc = D._store_manifest_load(path)
    assert len(doc["batches"]) == 2
    assert sorted(doc["schemas"]) == sorted(tables)

    for table in tables:
        before = job_watermark(spark)
        opened = D._store_read_committed(spark, path, table)
        assert job_watermark(spark) - before == 0, table
        plain = (
            spark.read.parquet(f"{path}/{table}")
            .where(F.col("batch").isin(doc["batches"]))
            .drop("batch")
        )
        assert opened.schema == plain.schema, table
        filters = _partition_filters(opened)
        assert "IN (" in filters, filters
        assert filters == _partition_filters(plain), table
        assert opened.count() == plain.count() > 0, table


@pytest.mark.parametrize("family", sorted(_STORE_FAMILIES))
def test_store_append_of_another_schema_raises_before_writing(
    spark, tmp_path, family
):
    """An append whose frames would land another schema than the one
    the store pinned raises before any write: no batch directory
    appears and the manifest is byte-for-byte unchanged. The sketch
    stores get ``int`` ids into a ``bigint``-id store; the df store
    carries no ids, so its pinned counts schema is forged instead."""
    from pyspark.sql.types import LongType, StructField, StructType

    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark)
    path = str(tmp_path / "store")
    getattr(D, f"{family}_store_build")(
        df.where("doc_id % 2 = 0"), path, "text", "doc_id"
    )
    arrival = df.where("doc_id % 2 = 1")
    if family == "df":
        doc = D._store_manifest_load(path)
        doc["schemas"]["counts"] = StructType(
            [StructField("sh", LongType()), StructField("n", LongType())]
        ).jsonValue()
        D._store_manifest_write(
            path, doc["batches"], doc["displaced"], doc["schemas"]
        )
    else:
        arrival = arrival.withColumn("doc_id", F.col("doc_id").cast("int"))
    with open(D._store_manifest_path(path)) as fh:
        manifest = fh.read()
    dirs = _batch_dirs(path)

    with pytest.raises(ValueError, match="schema mismatch"):
        getattr(D, f"{family}_store_append")(arrival, path, "text", "doc_id")
    with open(D._store_manifest_path(path)) as fh:
        assert fh.read() == manifest
    assert _batch_dirs(path) == dirs


@pytest.mark.parametrize("family", ["containment", "minhash", "substring"])
def test_migrated_store_without_pinned_schemas_reads_and_probes(
    spark, tmp_path, family
):
    """A store folded by ``store_migrate`` has a manifest with no
    schemas: its tables open by inference with the schema a native
    store's pinned open gives, its probe serves exactly the native
    store's pairs, and an append keeps it schemaless (the new batch
    cannot vouch for the migrated files)."""
    import os
    import shutil

    from full_docker_etl_spark.operators import dedup as D

    tables = _STORE_FAMILIES[family]
    store_docs = _quote_corpus(spark)
    # re-delivered copies under new ids: a duplicate for every tier
    batch = store_docs.where("doc_id < 3").withColumn(
        "doc_id", F.col("doc_id") + 1000
    )
    probe = getattr(D, f"{family}_probe_store")

    ref = str(tmp_path / "ref")
    getattr(D, f"{family}_store_build")(store_docs, ref, "text", "doc_id")
    want = {tuple(r) for r in probe(batch, ref, "text", "doc_id").collect()}
    assert want

    # forge the pre-manifest layout: flatten each table's batch dir
    old = str(tmp_path / "old")
    shutil.copytree(ref, old)
    os.unlink(D._store_manifest_path(old))
    for table in tables:
        tdir = os.path.join(old, table)
        (bdir,) = [e for e in os.listdir(tdir) if e.startswith("batch=")]
        for entry in os.listdir(os.path.join(tdir, bdir)):
            os.rename(
                os.path.join(tdir, bdir, entry), os.path.join(tdir, entry)
            )
        os.rmdir(os.path.join(tdir, bdir))
    D.store_migrate(old)
    assert D._store_manifest_load(old)["schemas"] == {}

    for table in tables:
        before = job_watermark(spark)
        opened = D._store_read_committed(spark, old, table)
        assert job_watermark(spark) - before >= 1, table  # inferred
        assert opened.schema == D._store_read_committed(
            spark, ref, table
        ).schema
    got = {tuple(r) for r in probe(batch, old, "text", "doc_id").collect()}
    assert got == want

    getattr(D, f"{family}_store_append")(batch, old, "text", "doc_id")
    doc = D._store_manifest_load(old)
    assert len(doc["batches"]) == 2 and doc["schemas"] == {}


def test_containment_probe_cache_released_between_batches(spark):
    """Round-15 review finding: containment_probe_store persisted the
    batch sketch but gave callers no way to release it, so repeated
    probes accumulated cached frames for the session's lifetime. Each
    probe now releases its predecessor automatically and
    containment_probe_release() drops the last one."""
    import tempfile

    from full_docker_etl_spark.operators import dedup as D

    df = _quote_corpus(spark, n_docs=20, n_quotes=4)
    path = tempfile.mkdtemp(prefix="fde_ccache_") + "/store"
    D.containment_store_build(df.where("doc_id % 10 != 0"), path, "text", "doc_id")

    def cached(frame):
        return frame.storageLevel.useMemory or frame.storageLevel.useDisk

    D.containment_probe_store(
        df.where("doc_id % 10 = 0"), path, "text", "doc_id"
    ).collect()
    assert len(D._PROBE_CACHE) == 1 and cached(D._PROBE_CACHE[0])
    first = D._PROBE_CACHE[0]

    # the next probe releases the predecessor — never two cached batches
    D.containment_probe_store(
        df.where("doc_id % 10 = 1"), path, "text", "doc_id"
    ).collect()
    assert len(D._PROBE_CACHE) == 1
    assert not cached(first)
    assert cached(D._PROBE_CACHE[0])

    # explicit release empties the registry; idempotent
    last = D._PROBE_CACHE[0]
    D.containment_probe_release()
    D.containment_probe_release()
    assert not D._PROBE_CACHE and not cached(last)


def test_source_overlap_matches_naive(spark):
    """The cross-source shingle overlap matrix must equal a Python
    reimplementation exactly — distinct-per-source shingles, the
    source-granularity posting cap, shared counts and Jaccard per
    ordered pair — on a corpus with a ubiquitous shingle that the cap
    must exclude from every pair."""
    from full_docker_etl_spark.operators.dedup import source_overlap

    common = "w1 w2 w3 w4 w5"  # one 5-gram present in ALL 3 sources
    rows = [
        # A and B share "a1..a5"; the duplicate doc in A must not
        # double-count it (distinct per source)
        (1, "A", common + " a1 a2 a3 a4 a5"),
        (2, "A", "a1 a2 a3 a4 a5"),
        (3, "B", common + " a1 a2 a3 a4 a5 b1 b2 b3 b4"),
        (4, "C", common + " c1 c2 c3 c4 c5 c6"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r.s1, r.s2): (r.shared, r.n1, r.n2, r.jaccard)
        for r in source_overlap(
            df, "text", "source", n=5, max_source_df=2
        ).collect()
    }

    def grams(t: str) -> set[str]:
        toks = t.split()
        return {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}

    per_src: dict[str, set[str]] = {}
    for _, s, t in rows:
        per_src.setdefault(s, set()).update(grams(t))
    from collections import Counter

    sdf = Counter(g for gs in per_src.values() for g in gs)
    kept = {s: {g for g in gs if sdf[g] <= 2} for s, gs in per_src.items()}
    want = {}
    for s1 in per_src:
        for s2 in per_src:
            if s1 < s2 and kept[s1] & kept[s2]:
                sh = len(kept[s1] & kept[s2])
                n1, n2 = len(kept[s1]), len(kept[s2])
                want[(s1, s2)] = (sh, n1, n2, sh / (n1 + n2 - sh))
    assert got == want
    assert ("A", "B") in got  # the a-run survives the cap
    # the ubiquitous shingle (3 sources > max_source_df=2) must not
    # create an A-C or B-C pair on its own
    assert ("A", "C") not in got and ("B", "C") not in got


def test_connected_components_long_chain_pointer_doubling(spark):
    """A 100-node chain (diameter 99) converges within the default
    budget: pointer doubling makes the reachable-min horizon grow
    geometrically, so ~7 rounds suffice where plain min-propagation
    needs ~99 and would blow the max_iter=20 guard."""
    from full_docker_etl_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 100)], "d1 long, d2 long"
    )
    # max_iter=10 < diameter proves the O(log d) shape, not just "fits
    # in 20"; the default 20 then carries ~2^18-diameter headroom.
    got = {
        r.node: r.comp
        for r in connected_components(chain, max_iter=10).collect()
    }
    assert set(got.values()) == {1} and len(got) == 100


def test_connected_components_incremental_equals_full(spark):
    """The batch-arrival refresh must equal a from-scratch CC over the
    union graph, on a randomized split of a random graph (bridged
    components, extended chains, brand-new nodes, untouched
    components) — the star-compression argument checked empirically,
    plus the star's O(1) diameter: two 50-node chains pre-labeled then
    bridged by ONE new edge converge in a round budget far below
    either chain's diameter."""
    import random

    from full_docker_etl_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
    )

    rng = random.Random(13)
    nodes = list(range(200))
    all_pairs = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
            )
            if a != b
        }
    )
    rng.shuffle(all_pairs)
    old_pairs, new_pairs = all_pairs[:100], all_pairs[100:]
    schema = "d1 long, d2 long"
    labels = connected_components(spark.createDataFrame(old_pairs, schema))
    inc = {
        r.node: r.comp
        for r in connected_components_incremental(
            labels, spark.createDataFrame(new_pairs, schema)
        ).collect()
    }
    full = {
        r.node: r.comp
        for r in connected_components(
            spark.createDataFrame(all_pairs, schema)
        ).collect()
    }
    assert inc == full and full

    # two long pre-labeled chains bridged by one edge: the stars enter
    # with diameter 2, so a tiny round budget suffices where a
    # from-scratch run over the raw chains needs pointer doubling to
    # cover diameter ~100
    chains = [(i, i + 1) for i in range(1, 50)] + [
        (i, i + 1) for i in range(100, 149)
    ]
    chain_labels = connected_components(
        spark.createDataFrame(chains, schema)
    )
    bridged = {
        r.node: r.comp
        for r in connected_components_incremental(
            chain_labels,
            spark.createDataFrame([(50, 100)], schema),
            max_iter=4,
        ).collect()
    }
    assert set(bridged.values()) == {1} and len(bridged) == 100


def test_keep_best_per_cluster_policy(spark):
    """Cluster resolution keeps the FIRST member under the caller's
    ordering (longest here), ties broken by id; docs absent from the
    labels frame are singletons labeled by their own id and always
    kept."""
    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.dedup import keep_best_per_cluster

    docs = spark.createDataFrame(
        [
            (1, 10), (2, 30), (3, 30),   # cluster 1: 2 and 3 tie at 30
            (7, 5),                       # cluster 7: alone in labels
            (9, 99),                      # never paired: singleton
        ],
        "doc_id long, n_tokens long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)], "node long, comp long"
    )
    got = {
        (r.doc_id, r.comp, r.n_tokens)
        for r in keep_best_per_cluster(
            docs, labels, [F.col("n_tokens").desc()]
        ).collect()
    }
    assert got == {(2, 1, 30), (7, 7, 5), (9, 9, 99)}


def test_resolve_arrival_policy_pluggable(spark):
    """Batch-arrival resolution emits EVERY member of every
    batch-touching cluster with a kept flag (winner = first under the
    caller's ordering, id tie-break; arriving singletons kept;
    untouched clusters absent), and the policy is the ordering: the
    same labels resolve differently under keep-longest vs a score."""
    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.dedup import resolve_arrival

    docs = spark.createDataFrame(
        [
            # cluster 1: standing 1 (long, low score), arriving 10
            (1, 30, 0.1, False), (10, 20, 0.9, True),
            # cluster 2: standing only — untouched, must not appear
            (2, 50, 0.5, False), (3, 40, 0.4, False),
            # arriving never-paired singleton
            (30, 7, 0.2, True),
        ],
        "doc_id long, n_tokens long, score double, is_new boolean",
    )
    labels = spark.createDataFrame(
        [(1, 1), (10, 1), (2, 2), (3, 2)], "node long, comp long"
    )
    longest = {
        (r.doc_id, r.comp, r.kept)
        for r in resolve_arrival(
            docs, labels, [F.col("n_tokens").desc()]
        ).collect()
    }
    assert longest == {
        (1, 1, True), (10, 1, False),   # standing winner beats arrival
        (30, 30, True),                  # singleton arrival admitted
    }
    scored = {
        (r.doc_id, r.comp, r.kept)
        for r in resolve_arrival(
            docs, labels, [F.col("score").desc()]
        ).collect()
    }
    assert scored == {
        (1, 1, False), (10, 1, True),   # arrival displaces the winner
        (30, 30, True),
    }


def test_jaccard_verify_pairs_subset_of_exact(spark):
    """The verify half of the probe loop: candidates are judged by
    EXACT n-gram Jaccard, so false candidates die and the output is a
    subset of jaccard_pairs over the same corpus — the no-false-merge
    property the probe-fed arrival capstone rests on."""
    from full_docker_etl_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_verify_pairs,
    )

    import random

    rng = random.Random(11)
    words = [f"w{i}" for i in range(300)]
    base = [
        " ".join(rng.choice(words) for _ in range(60)) for _ in range(10)
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    # plant near-copies: append a couple of words — high Jaccard
    rows += [(100 + i, t + " zz yy") for i, t in enumerate(base[:4])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.d1, r.d2): r.jaccard
        for r in jaccard_pairs(
            docs, "text", "doc_id", n=5, threshold=0.8, max_df=1000
        ).collect()
    }
    assert exact  # the planted near-copies pair with their bases
    # candidates: every true pair PLUS forged false pairs
    truth = list(exact)
    cand = spark.createDataFrame(
        truth + [(0, 7), (3, 11), (5, 19)], "d1 long, d2 long"
    )
    got = {
        (r.d1, r.d2): r.jaccard
        for r in jaccard_verify_pairs(
            docs, cand, "text", "doc_id", n=5, threshold=0.8
        ).collect()
    }
    assert set(got) == set(exact)  # false candidates filtered, none lost
    for k, v in got.items():
        assert abs(v - exact[k]) < 1e-9


def test_jaccard_verify_pairs_rare_mode_matches_blocked_measure(spark):
    """The measure contract (r18 review finding): raw verify and the
    max_df-blocked jaccard_pairs measure diverge exactly on
    boilerplate-only pairs (shingles over the cap) — the raw mode
    ADMITS them (more dedup, against true similarity), and the
    ``rare`` mode reproduces the blocked measure on candidates only,
    restoring the exact-subset agreement with a jaccard_pairs truth
    tier on a cap-active corpus."""
    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_verify_pairs,
        shingle_arrays,
    )

    boiler = " ".join(f"b{i}" for i in range(8))
    uniq = " ".join(f"u{i}" for i in range(12))
    rows = [(i, boiler) for i in range(6)]       # boilerplate clones
    rows += [(10, uniq), (11, uniq + " zz")]     # genuine rare near-dup
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    max_df = 3

    exact = {
        (r.d1, r.d2)
        for r in jaccard_pairs(
            docs, "text", "doc_id", n=5, threshold=0.8, max_df=max_df
        ).collect()
    }
    assert exact == {(10, 11)}  # the cap blocks the boilerplate clones

    cand = spark.createDataFrame([(0, 1), (10, 11)], "d1 long, d2 long")
    raw = {
        (r.d1, r.d2)
        for r in jaccard_verify_pairs(
            docs, cand, "text", "doc_id", n=5, threshold=0.8
        ).collect()
    }
    # raw measure: the boilerplate clones ARE identical text, so the
    # documented divergence admits them
    assert raw == {(0, 1), (10, 11)}

    # the rare frame exactly as the blocked pass derives it
    rare = (
        shingle_arrays(docs, "text", "doc_id", 5)
        .select(
            "doc_id",
            F.explode(
                F.transform("sh_arr", lambda s: F.xxhash64(s))
            ).alias("sh"),
        )
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("sh")
    )
    blocked = {
        (r.d1, r.d2)
        for r in jaccard_verify_pairs(
            docs, cand, "text", "doc_id", n=5, threshold=0.8, rare=rare
        ).collect()
    }
    assert blocked == {(10, 11)}  # agrees with jaccard_pairs exactly


def test_df_store_incremental_rare_serves_blocked_verification(
    spark, tmp_path
):
    """The persisted shingle-DF store: additive per-batch partials sum
    to the exact corpus document frequencies (single-admission
    contract), so `df_store_rare` equals the rare set a full corpus
    pass derives — and feeding it to jaccard_verify_pairs makes
    blocked-measure verification exact on a cap-active corpus WITHOUT
    rescanning the corpus per batch. Maintenance (compact-at-budget +
    vacuum) must leave the served rare set untouched."""
    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators import dedup as D

    boiler = " ".join(f"b{i}" for i in range(8))
    uniq = " ".join(f"u{i}" for i in range(12))
    rows = [(i, boiler) for i in range(6)]
    rows += [(10, uniq), (11, uniq + " zz")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    max_df = 3

    path = str(tmp_path / "dfstore")
    # three admission batches — build + two appends
    D.df_store_build(
        docs.where("doc_id % 3 = 0"), path, "text", "doc_id", n=5
    )
    for rem in (1, 2):
        D.df_store_append(
            docs.where(f"doc_id % 3 = {rem}"), path, "text", "doc_id"
        )

    # the full-pass truth: hashed shingle dfs over the whole corpus
    truth = (
        D.shingle_arrays(docs, "text", "doc_id", 5)
        .select(
            "doc_id",
            F.explode(
                F.transform("sh_arr", lambda s: F.xxhash64(s))
            ).alias("sh"),
        )
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
    )
    want_rare = {r.sh for r in truth.collect()}
    got_rare = {
        r.sh for r in D.df_store_rare(spark, path, max_df, 5).collect()
    }
    assert got_rare == want_rare and want_rare

    # the served rare set makes verification agree with jaccard_pairs
    cand = spark.createDataFrame([(0, 1), (10, 11)], "d1 long, d2 long")
    blocked = {
        (r.d1, r.d2)
        for r in D.jaccard_verify_pairs(
            docs, cand, "text", "doc_id", n=5, threshold=0.8,
            rare=D.df_store_rare(spark, path, max_df, 5),
        ).collect()
    }
    exact = {
        (r.d1, r.d2)
        for r in D.jaccard_pairs(
            docs, "text", "doc_id", n=5, threshold=0.8, max_df=max_df
        ).collect()
    }
    assert blocked == exact == {(10, 11)}

    # maintenance folds 3 partials to 1 and reclaims displaced
    # batches without changing what the store serves
    r = D.store_maintain(
        spark, path, max_batches=1, probe_grace_seconds=0.0
    )
    assert r["compacted"] and sorted(r["vacuumed"]) == sorted(
        r["displaced"]
    )
    assert r["after"]["committed_batches"] == 1
    assert {
        r_.sh for r_ in D.df_store_rare(spark, path, max_df, 5).collect()
    } == want_rare

    # the shingle-width guard: asking for a different gram space than
    # the store was built with must fail LOUDLY, not return a frame
    # that silently matches nothing
    with pytest.raises(ValueError, match="shingle-width mismatch"):
        D.df_store_rare(spark, path, max_df, 7)


def test_df_store_append_crash_retry_no_double_count(spark, monkeypatch):
    """The crash-orphan retry-equivalence contract, completed for the
    FOURTH store family. The df family's hazard is DOUBLE-COUNTING,
    not lost candidates: its partials are additive (readers SUM), so
    a retried append that also summed a crashed attempt's partial
    would inflate df and push borderline shingles over the cap —
    silently shrinking the rare set and dropping true pairs from
    blocked verification with no error anywhere. The corpus plants a
    boiler sitting EXACTLY at the cap (df 3 = max_df, in-cap) whose
    entire df lives in the appended batch: a double-count reads df 6,
    evicts it, and the rare-set equality below fails. A partial whose
    manifest publish died must be invisible to readers, a retry must
    re-land cleanly, and vacuum must reclaim exactly the orphan."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators import dedup as D

    boiler = " ".join(f"cb{i}" for i in range(8))
    rows = [(i, " ".join(f"ua{i}_{j}" for j in range(10))) for i in range(4)]
    rows += [(10 + i, f"{boiler} ct{i}x ct{i}y") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    half_a = docs.where("doc_id < 4")   # unique fillers: the build
    half_b = docs.where("doc_id >= 4")  # all boiler docs: the append
    max_df = 3

    def rare_of(path):
        return {r.sh for r in D.df_store_rare(spark, path, max_df, 5).collect()}

    # reference: the same store built without any crash — the
    # boiler-interior shingles (shared by all three boiler docs,
    # df exactly 3 = cap) must be IN the served rare set
    ref = tempfile.mkdtemp(prefix="fde_dfref_") + "/store"
    D.df_store_build(half_a, ref, "text", "doc_id", n=5)
    D.df_store_append(half_b, ref, "text", "doc_id")
    want = rare_of(ref)
    shared_boiler = {
        r.sh
        for r in D._hashed_shingles(
            docs.where("doc_id = 10"), "text", "doc_id", 5
        ).collect()
    } & {
        r.sh
        for r in D._hashed_shingles(
            docs.where("doc_id = 11"), "text", "doc_id", 5
        ).collect()
    }
    assert shared_boiler and shared_boiler <= want

    path = tempfile.mkdtemp(prefix="fde_dfatomic_") + "/store"
    D.df_store_build(half_a, path, "text", "doc_id", n=5)
    before_crash = rare_of(path)

    # crash the append AFTER the partial lands, BEFORE the publish
    real_publish = D._store_manifest_publish

    def boom(p, batch_id, schemas=None):
        raise RuntimeError("simulated crash before manifest publish")

    monkeypatch.setattr(D, "_store_manifest_publish", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        D.df_store_append(half_b, path, "text", "doc_id")
    monkeypatch.setattr(D, "_store_manifest_publish", real_publish)

    # the orphan partial is on disk but readers cannot sum it: the
    # served rare set is unchanged from the pre-crash store
    committed = set(D._store_manifest(path))
    on_disk = {
        e.split("=", 1)[1]
        for e in os.listdir(os.path.join(path, "counts"))
        if e.startswith("batch=")
    }
    orphans = on_disk - committed
    assert len(orphans) == 1
    assert rare_of(path) == before_crash
    assert shared_boiler.isdisjoint(before_crash)

    # retried append: df must equal the crash-free store exactly — a
    # double-count would read the boiler at df 6 > 3 and evict it
    D.df_store_append(half_b, path, "text", "doc_id")
    assert rare_of(path) == want

    # vacuum reclaims exactly the orphan, and the store still serves
    removed = D.store_vacuum(path)
    assert set(removed) == orphans
    assert rare_of(path) == want


def test_df_store_crossings_and_revalidation(spark):
    """The measure-drift mechanism end to end: an append pushes the
    boiler over the cap; df_store_crossings enumerates EXACTLY the
    boiler-interior shingles from the store's partials (no corpus
    rescan); revalidate_pairs re-verifies only the affected edge
    (both endpoints carry a crossed shingle) and drops it — its
    blocked Jaccard fell from 11/13 to 5/7 when the boiler left the
    measured universe — while the control edge (no crossed shingle,
    measure byte-identical) passes through unread. Also pins: empty
    crossings on a single-batch store, and the shingle-width guard."""
    import tempfile

    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators import dedup as D

    B = " ".join(f"rv{i}" for i in range(10))      # the boiler
    C = " ".join(f"rc{i}" for i in range(5))       # shared content
    DD = " ".join(f"rd{i}" for i in range(12))     # control content
    rows = [
        (1, f"{B} {C} ru1"),
        (2, f"{B} {C} ru2"),
        (3, f"{B} " + " ".join(f"rf3_{j}" for j in range(8))),
        (8, f"{DD} ru8"),
        (9, f"{DD} ru9"),
    ]
    batch2 = [(4, f"{B} " + " ".join(f"rf4_{j}" for j in range(8)))]
    docs = spark.createDataFrame(rows + batch2, "doc_id long, text string")
    max_df = 3

    path = tempfile.mkdtemp(prefix="fde_dfcross_") + "/store"
    D.df_store_build(
        docs.where("doc_id != 4"), path, "text", "doc_id", n=5
    )

    # single-batch store: no previous epoch, nothing crosses
    assert D.df_store_crossings(spark, path, max_df, 5).count() == 0

    # epoch-1 measure: both edges valid (boiler df 3 = cap, in-cap)
    rare1 = D.df_store_rare(spark, path, max_df, 5)
    edges = spark.createDataFrame([(1, 2), (8, 9)], "d1 long, d2 long")
    v1 = {
        (r.d1, r.d2)
        for r in D.jaccard_verify_pairs(
            docs, edges, "text", "doc_id", n=5, threshold=0.8, rare=rare1
        ).collect()
    }
    assert v1 == {(1, 2), (8, 9)}

    # the append pushes the boiler to df 4 > 3
    D.df_store_append(docs.where("doc_id = 4"), path, "text", "doc_id")
    crossings = D.df_store_crossings(spark, path, max_df, 5)
    boiler_interior = {
        r.sh
        for r in D._hashed_shingles(
            spark.createDataFrame([(0, B)], "doc_id long, text string"),
            "text", "doc_id", 5,
        ).collect()
    }
    assert {r.sh for r in crossings.collect()} == boiler_interior

    # revalidation drops exactly the boiler-carried edge
    rare2 = D.df_store_rare(spark, path, max_df, 5)
    retained = {
        (r.d1, r.d2)
        for r in D.revalidate_pairs(
            docs, edges, "text", "doc_id", crossings, rare2,
            n=5, threshold=0.8,
        ).collect()
    }
    assert retained == {(8, 9)}
    # and the surviving set is a subset of the CURRENT one-shot truth
    now = {
        (r.d1, r.d2)
        for r in D.jaccard_pairs(
            docs, "text", "doc_id", n=5, threshold=0.8, max_df=max_df
        ).collect()
    }
    assert retained <= now

    with pytest.raises(ValueError, match="shingle-width mismatch"):
        D.df_store_crossings(spark, path, max_df, 7)


def test_df_verify_cohort_puts_the_cap_in_play(spark, sf_dir):
    """dedup_df_verify's premise, pinned against the real testdata:
    the natural corpus' shingle df never exceeds the 16 cap (measured:
    tops out at 4 at every SF), so WITHOUT the planted boilerplate
    cohort the blocked measure would silently degenerate to raw and
    the query would stop exercising the df filter. With the cohort:
    (a) the store-served df really carries the boiler shingles over
    the cap, (b) the raw measure admits all 190 cohort pairs at ≥0.8,
    and (c) the blocked measure — served from the store — admits
    none. If a testdata regeneration ever introduces natural df > 16,
    (a) still holds and the query stays valid; this test's point is
    that the divergence the verdict guards is REAL, not vacuous."""
    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators import dedup as D
    from full_docker_etl_spark.queries.llm_q import _df_verify_corpus

    corpus = _df_verify_corpus(spark, sf_dir)
    cohort = corpus.where("doc_id < 0")
    assert cohort.count() == 20

    # (a) boiler shingles exceed the cap in the true corpus df
    dfs = (
        D._hashed_shingles(corpus, "text", "doc_id", 5)
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    over = dfs.where("df > 16").count()
    assert over >= 36  # the boiler-interior shingles, df = 20

    # (b) raw measure: every cohort pair is a false near-dup
    cand = (
        cohort.select(F.col("doc_id").alias("d1"))
        .crossJoin(cohort.select(F.col("doc_id").alias("d2")))
        .where("d1 < d2")
    )
    raw = D.jaccard_verify_pairs(
        corpus, cand, "text", "doc_id", n=5, threshold=0.8
    )
    assert raw.count() == 190

    # (c) blocked measure from a built store: none survive
    import tempfile

    path = tempfile.mkdtemp(prefix="fde_dfcap_") + "/store"
    D.df_store_build(corpus, path, "text", "doc_id", n=5)
    rare = D.df_store_rare(spark, path, max_df=16, n=5)
    blocked = D.jaccard_verify_pairs(
        corpus, cand, "text", "doc_id", n=5, threshold=0.8, rare=rare
    )
    assert blocked.count() == 0


def test_kmeans_centroids_deterministic_and_balanced(spark, embs):
    """Two independent trainings converge to identical centroids
    (deterministic init + tie-breaks); every list is populated; the
    trained-IVF recall stays above the floor."""
    from full_docker_etl_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
    )

    corpus = embs.select("vec_id", "embedding")
    a = kmeans_centroids(corpus, "embedding", "vec_id", k=16, max_iter=3)
    b = kmeans_centroids(corpus, "embedding", "vec_id", k=16, max_iter=3)
    rows_a = {r.centroid: (r.n_members, tuple(r.cvec)) for r in a.collect()}
    rows_b = {r.centroid: (r.n_members, tuple(r.cvec)) for r in b.collect()}
    assert rows_a == rows_b
    assert len(rows_a) == 16
    assert all(n > 0 for n, _ in rows_a.values())

    queries = embs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    brute = {(r.qid, r.vec_id) for r in cosine_topk(queries, corpus, k=5).collect()}
    km = {
        (r.qid, r.vec_id)
        for r in ivf_topk(
            queries, corpus, k=5, n_centroids=16, nprobe=4, centroids=a
        ).collect()
    }
    assert len(brute & km) / len(brute) >= 0.7


def test_ivf_serve_matches_in_memory(spark, sf_dir):
    """The partitioned serve path must return exactly the in-memory
    ivf_topk results on the same centroids (same assignment, same
    probes, same scoring — only the storage shape differs)."""
    import tempfile

    from full_docker_etl_spark.operators.similarity import (
        ivf_build_lists,
        ivf_probe_lists,
    )
    from full_docker_etl_spark.sources.catalog import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    corpus = embs.select("vec_id", "embedding")
    queries = embs.where(F.col("vec_id") < 10).selectExpr(
        "vec_id AS qid", "embedding AS qvec"
    )
    cents = corpus.orderBy("vec_id").limit(16).selectExpr(
        "vec_id AS centroid", "embedding AS cvec"
    )
    mem = {
        (r.qid, r.vec_id): (r.cos_sim, r.rank)
        for r in ivf_topk(queries, corpus, k=5, nprobe=4, centroids=cents).collect()
    }
    path = tempfile.mkdtemp(prefix="fde_ivfeq_") + "/lists"
    ivf_build_lists(corpus, path, cents)
    served = {
        (r.qid, r.vec_id): (r.cos_sim, r.rank)
        for r in ivf_probe_lists(spark, path, queries, cents, k=5, nprobe=4).collect()
    }
    assert served == mem


def test_simhash_exact_match_blocking(spark):
    """max_hamming=0 (exact 64-bit signature match) must work: the
    single full-width block needs the all-ones mask as a signed long."""
    base = " ".join(f"tok{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "something else entirely here")],
        "doc_id long, text string",
    )
    pairs = {(r.d1, r.d2) for r in simhash_pairs(df, "text", "doc_id", max_hamming=0).collect()}
    assert pairs == {(1, 2)}


def test_zero_norm_embeddings_never_abort_scoring(spark):
    """Round-14 review finding, confirmed before the fix: Spark 4 runs
    ANSI by default, so ONE zero-norm embedding (an empty-text row)
    anywhere in queries or corpus DIVIDE_BY_ZERO-aborted every cosine
    path. Zero-norm rows must instead drop out (cosine is undefined
    for them) and everyone else must still rank."""
    from full_docker_etl_spark.operators.similarity import (
        cosine_pairs_lsh,
        cosine_topk,
        hyperplane_lsh_topk,
        ivf_sq_topk,
    )

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),          # degenerate
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.14, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.001, 0.001, 0.0, 0.0]),      # SQ-degenerate (codes -> 0)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = cosine_topk(q, emb, k=2).collect()
    assert got and all(r.qid != 0 for r in got)  # zero query scores nothing
    near = cosine_pairs_lsh(emb, threshold=0.9).collect()
    assert {(r.d1, r.d2) for r in near} == {(1, 2)}
    assert hyperplane_lsh_topk(q, emb, k=2).count() > 0
    cents = emb.where("vec_id in (1, 3)").select(
        F.col("vec_id").alias("centroid"), F.col("embedding").alias("cvec")
    )
    sq = ivf_sq_topk(q, emb, k=2, nprobe=2, centroids=cents)
    assert sq.count() > 0  # the tiny-but-nonzero vec 4 must not abort


def test_sketch_bits_single_family_matches_multi():
    """sketch_bits(table=t) now folds only family t (plane ids are
    global, offset by first_table) — the bits must equal the t-th
    entry of the full multi-family fold."""
    from full_docker_etl_spark.operators.similarity import (
        sketch_bits,
        sketch_bits_multi,
    )
    from full_docker_etl_spark.session import get_spark

    spark = get_spark(app_name="sketch-eq", shuffle_partitions=4)
    df = spark.createDataFrame(
        [(1, [0.3, -0.7, 0.2]), (2, [-0.1, 0.5, 0.9])],
        "vec_id long, v array<double>",
    )
    both = df.select(
        sketch_bits_multi(F.col("v"), 8, 4).alias("all4"),
        *[sketch_bits(F.col("v"), 8, table=t).alias(f"s{t}") for t in range(4)],
    ).collect()
    for r in both:
        assert [r[f"s{t}"] for t in range(4)] == list(r.all4)


def test_cosine_pairs_lsh_validates_band_geometry(spark):
    """bands must divide n_planes and not exceed it — bands>n_planes
    previously crashed obscurely downstream (0-plane sketches) and a
    non-divisor silently narrowed every band key."""
    from full_docker_etl_spark.operators.similarity import cosine_pairs_lsh

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    for bad in ({"bands": 24, "n_planes": 16}, {"bands": 3, "n_planes": 16},
                {"bands": 0, "n_planes": 16}):
        with pytest.raises(ValueError, match="must divide"):
            cosine_pairs_lsh(emb, **bad)


def test_lsh_band_params_degenerate_threshold():
    from full_docker_etl_spark.operators.similarity import lsh_band_params

    rows, bands = lsh_band_params(-1.0, 1000, max_bands=64)
    assert bands == 64  # never agrees per band: offer every table
    rows, bands = lsh_band_params(1.0, 1000)
    assert bands == 1   # always agrees: one table suffices


def test_substring_spans_planted_passage(spark):
    """A verbatim 30-token passage planted in two docs at different
    offsets must come back as ONE maximal span with exact 0-based
    token offsets and length; too-short docs and non-overlapping docs
    must not appear; the posting cap and the min-length filter must
    drop, not corrupt, results."""
    from full_docker_etl_spark.operators.dedup import substring_spans

    passage = " ".join(f"p{i}" for i in range(30))
    rows = [
        (1, "alpha beta " + passage + " gamma delta"),
        (2, passage + " unrelated tail words here"),
        (3, "totally different words with no overlap at all x y z a b c"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = substring_spans(df, "text", "doc_id", n=5, min_tokens=20).collect()
    assert [
        (r.d1, r.d2, r.d1_pos, r.d2_pos, r.span_tokens) for r in out
    ] == [(1, 2, 2, 0, 30)]
    # a min_tokens above the planted span filters it out
    assert (
        substring_spans(df, "text", "doc_id", n=5, min_tokens=31).count() == 0
    )
    # max_occ=1 drops every shared fingerprint (each occurs twice):
    # the cap bounds fan-out by dropping candidates, never corrupting
    assert (
        substring_spans(df, "text", "doc_id", n=5, min_tokens=20, max_occ=1)
        .count() == 0
    )


def test_substring_spans_two_diagonals(spark):
    """A passage duplicated TWICE inside one partner doc must yield two
    distinct spans (one per diagonal) against the single-copy doc."""
    from full_docker_etl_spark.operators.dedup import substring_spans

    passage = " ".join(f"q{i}" for i in range(25))
    rows = [
        (10, passage),
        (20, passage + " mid filler tokens " + passage),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r.d1, r.d2, r.d1_pos, r.d2_pos, r.span_tokens)
        for r in substring_spans(
            df, "text", "doc_id", n=5, min_tokens=20
        ).collect()
    )
    assert out == [(10, 20, 0, 0, 25), (10, 20, 0, 28, 25)]


def test_substring_dedup_apply_keep_first_and_merge(spark):
    """Applying the substring dedup must cut spans from the HIGHER-id
    doc only (keep-first), MERGE overlapping intervals (spans against
    two different canonical partners covering one contiguous stretch
    remove it once, not twice), handle full removal (empty clean
    text), and omit unaffected docs."""
    from full_docker_etl_spark.operators.dedup import substring_dedup_apply

    P = " ".join(f"p{i}" for i in range(25))
    Q = " ".join(f"q{i}" for i in range(25))
    q_head = " ".join(f"q{i}" for i in range(10))
    rows = [
        (1, P + " " + q_head),      # canonical owner of P (+Q prefix)
        (2, Q),                     # canonical owner of Q
        (3, P + " " + Q),           # [0,35) vs doc1 + [25,50) vs doc2
        (4, "a b c " + P + " z1 z2 z3 z4 z5"),  # partial: [3,28) vs doc1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in substring_dedup_apply(
            df, "text", "doc_id", n=5, min_tokens=20
        ).collect()
    }
    # doc2's overlap with doc1 is only 10 tokens — below min, untouched
    assert set(got) == {3, 4}
    assert got[3] == (50, 50, "")  # merged [0,35)+[25,50) = everything
    assert got[4] == (33, 25, "a b c z1 z2 z3 z4 z5")


def _ref_substring_spans(docs, n, min_tokens, max_occ):
    """Naive Python reference for substring_spans: literal n-gram
    strings, corpus-wide occurrence cap, per-diagonal consecutive-run
    islands. O(everything) — correct by inspection, tiny inputs only."""
    from collections import Counter, defaultdict

    grams = {
        did: [
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ]
        if len(toks) >= n
        else []
        for did, toks in docs.items()
    }
    occ = Counter(s for g in grams.values() for s in g)
    out = set()
    ids = sorted(grams)
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1 :]:
            idx = defaultdict(list)
            for p2, s in enumerate(grams[d2]):
                if occ[s] <= max_occ:
                    idx[s].append(p2)
            bydiag = defaultdict(list)
            for p1, s in enumerate(grams[d1]):
                if occ[s] <= max_occ:
                    for p2 in idx.get(s, ()):
                        bydiag[p2 - p1].append(p1)
            for diag, ps in bydiag.items():
                ps.sort()
                run_start = ps[0]
                prev = ps[0]
                for p in ps[1:] + [None]:
                    if p is None or p != prev + 1:
                        length = prev - run_start + 1 + (n - 1)
                        if length >= min_tokens:
                            out.add(
                                (d1, d2, run_start, run_start + diag, length)
                            )
                        if p is not None:
                            run_start = p
                    if p is not None:
                        prev = p
    return out


def test_substring_probe_differential_vs_reference(spark, tmp_path):
    """Differential stress for the INCREMENTAL path: on seeded random
    small-vocab corpora with random store/batch splits, build→append→
    probe must equal the naive reference's spans restricted to
    batch-touching pairs — cap totals, diagonals and all."""
    import random

    from full_docker_etl_spark.operators.dedup import (
        substring_probe_store,
        substring_store_append,
        substring_store_build,
    )

    n, min_tokens = 3, 5
    for seed in range(4):
        rng = random.Random(1000 + seed)
        max_occ = rng.choice([3, 10, 1000])
        docs = {
            did: [
                rng.choice(["a", "b", "c", "d"])
                for _ in range(rng.randrange(0, 26))
            ]
            for did in range(rng.randrange(4, 9))
        }
        roles = {did: rng.choice(["store", "append", "batch"])
                 for did in docs}
        it = iter(sorted(roles))
        if "batch" not in roles.values():
            roles[next(it)] = "batch"
        if "store" not in roles.values():
            roles[next(it)] = "store"

        def frame(role):
            rows = [(d, " ".join(t)) for d, t in docs.items()
                    if roles[d] == role]
            return spark.createDataFrame(rows, "doc_id long, text string")

        path = str(tmp_path / f"dstore{seed}")
        substring_store_build(
            frame("store"), path, "text", "doc_id", n=n, max_occ=max_occ
        )
        if any(r == "append" for r in roles.values()):
            substring_store_append(frame("append"), path, "text", "doc_id")
        got = {
            (r.d1, r.d2, r.d1_pos, r.d2_pos, r.span_tokens)
            for r in substring_probe_store(
                frame("batch"), path, "text", "doc_id", n, min_tokens,
                max_occ,
            ).collect()
        }
        batch_ids = {d for d, r in roles.items() if r == "batch"}
        want = {
            s
            for s in _ref_substring_spans(docs, n, min_tokens, max_occ)
            if s[0] in batch_ids or s[1] in batch_ids
        }
        assert got == want, (seed, max_occ, roles, docs)


def test_substring_spans_differential_vs_reference(spark):
    """Differential stress: seeded random corpora over a 4-token
    vocabulary (dense repeated shingles ⇒ many diagonals, in-doc
    repeats, cap hits) must match the naive reference exactly —
    spans, and the applied removal's counts/clean text."""
    import random

    from full_docker_etl_spark.operators.dedup import (
        substring_dedup_apply,
        substring_spans,
    )

    n, min_tokens = 3, 5
    for seed in range(8):
        rng = random.Random(seed)
        max_occ = rng.choice([3, 10, 1000])
        docs = {
            did: [
                rng.choice(["a", "b", "c", "d"])
                for _ in range(rng.randrange(0, 26))
            ]
            for did in range(rng.randrange(2, 7))
        }
        df = spark.createDataFrame(
            [(did, " ".join(t)) for did, t in docs.items()],
            "doc_id long, text string",
        )
        got = {
            (r.d1, r.d2, r.d1_pos, r.d2_pos, r.span_tokens)
            for r in substring_spans(
                df, "text", "doc_id", n, min_tokens, max_occ
            ).collect()
        }
        want = _ref_substring_spans(docs, n, min_tokens, max_occ)
        assert got == want, (seed, max_occ, docs)

        # reference removal: keep-first, merged intervals per doc
        ivs = {}
        for d1, d2, _, p2, ln in want:
            ivs.setdefault(d2, []).append((p2, p2 + ln))
        expect = {}
        for did, spans in ivs.items():
            covered = {p for s, e in spans for p in range(s, e)}
            toks = docs[did]
            kept = [t for p, t in enumerate(toks) if p not in covered]
            expect[did] = (len(toks), len(covered), " ".join(kept))
        applied = {
            r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
            for r in substring_dedup_apply(
                df, "text", "doc_id", n, min_tokens, max_occ
            ).collect()
        }
        assert applied == expect, (seed, max_occ, docs)


def test_substring_store_probe_equals_batch_restricted_full(
    spark, docs, tmp_path
):
    """The incremental probe (build 3/5 → append 1/5 → probe 1/5) must
    equal the from-scratch full-corpus spans restricted to
    batch-touching pairs — offsets, lengths and cap effects included;
    and re-probing an already-admitted batch (retry) must return the
    identical spans with no self-pairs."""
    from full_docker_etl_spark.operators.dedup import (
        substring_probe_store,
        substring_spans,
        substring_store_append,
        substring_store_build,
    )

    path = str(tmp_path / "sstore")
    substring_store_build(
        docs.where("doc_id % 5 IN (1, 2, 3)"), path, "text", "doc_id"
    )
    substring_store_append(docs.where("doc_id % 5 = 4"), path, "text", "doc_id")
    batch = docs.where("doc_id % 5 = 0")

    def rows(df):
        return {
            (r.d1, r.d2, r.d1_pos, r.d2_pos, r.span_tokens)
            for r in df.collect()
        }

    got = rows(substring_probe_store(batch, path, "text", "doc_id"))
    want = rows(
        substring_spans(docs, "text", "doc_id").where(
            "d1 % 5 = 0 OR d2 % 5 = 0"
        )
    )
    assert got and got == want
    # retry: admit the batch, probe it again — same spans, no (X, X)
    substring_store_append(batch, path, "text", "doc_id")
    again = rows(substring_probe_store(batch, path, "text", "doc_id"))
    assert again == want
    assert all(d1 != d2 for d1, d2, *_ in again)


def test_substring_store_retry_cap_counts_each_doc_once(spark, tmp_path):
    """Retry exactness AT the occurrence cap: a re-delivered batch's
    doc sits in the store AND the batch, and double-counting its
    fingerprints (store log + batch copy) pushes totals past
    ``max_occ`` and silently drops the retry's spans. A from-scratch
    run over store ∪ batch counts each document ONCE, so with three
    docs sharing a passage and max_occ=3 the spans must survive a
    retry probe of one of them."""
    from full_docker_etl_spark.operators.dedup import (
        substring_probe_store,
        substring_store_build,
    )

    passage = " ".join(f"p{j}" for j in range(25))
    corpus = spark.createDataFrame(
        [(i, f"{passage} uniq{i}_a uniq{i}_b") for i in (1, 2, 3)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "rstore")
    substring_store_build(corpus, path, "text", "doc_id", max_occ=3)
    # retry: doc 1 is already admitted; its passage fps occur exactly
    # 3 times corpus-wide (the cap) counting each doc once
    batch = corpus.where("doc_id = 1")
    got = {
        (r.d1, r.d2, r.span_tokens)
        for r in substring_probe_store(
            batch, path, "text", "doc_id", max_occ=3
        ).collect()
    }
    assert got == {(1, 2, 25), (1, 3, 25)}


def test_substring_store_missing_table_raises(spark, tmp_path):
    """A MISSING store table directory (wrong path, mangled store)
    must raise loudly — silently treating it as an empty corpus would
    admit every duplicate (fps) or drop the occurrence cap (counts).
    A store with no manifest (a build that crashed before publishing)
    must refuse reads the same way."""
    import shutil

    from full_docker_etl_spark.operators.dedup import (
        substring_probe_store,
        substring_store_build,
    )

    corpus = spark.createDataFrame(
        [(1, " ".join(f"t{j}" for j in range(30)))],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mstore")
    substring_store_build(corpus, path, "text", "doc_id")
    shutil.rmtree(path + "/fps")
    with pytest.raises(FileNotFoundError, match="table missing"):
        substring_probe_store(corpus, path, "text", "doc_id").collect()
    # a present-but-empty table is still the tolerated degenerate case
    import os

    os.makedirs(path + "/fps")
    spans = substring_probe_store(corpus, path, "text", "doc_id")
    assert spans.count() == 0
    # an unpublished store (no manifest = crashed build) refuses reads
    os.remove(path + "/_manifest.json")
    with pytest.raises(FileNotFoundError, match="not a committed"):
        substring_probe_store(corpus, path, "text", "doc_id").collect()


def test_substring_store_append_crash_retry_no_double_count(
    spark, tmp_path, monkeypatch
):
    """Round-15: the substring store's two appends (fps, then the
    additive counts log) were non-atomic — a crash between them left a
    half-admitted batch (fps without counts understates occurrence
    totals), and a RETRY double-appended the log, overstating totals
    so boilerplate-adjacent fingerprints cap early and real duplicated
    spans silently vanish. With the manifest model, the crashed append
    is invisible, the retry re-lands cleanly, and vacuum reclaims the
    orphan."""
    import os

    from full_docker_etl_spark.operators import dedup as D

    base = " ".join(f"w{j}" for j in range(40))
    corpus = spark.createDataFrame(
        [(1, base), (2, "x " + base + " y")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(9, "z " + base + " q")], "doc_id long, text string"
    )
    # reference: crash-free build+append
    ref = str(tmp_path / "ref")
    D.substring_store_build(corpus.where("doc_id = 1"), ref, "text", "doc_id")
    D.substring_store_append(corpus.where("doc_id = 2"), ref, "text", "doc_id")
    want = {
        (r.d1, r.d2, r.d1_pos, r.d2_pos, r.span_tokens)
        for r in D.substring_probe_store(batch, ref, "text", "doc_id").collect()
    }
    assert want  # the planted shared span is found

    path = str(tmp_path / "crash")
    D.substring_store_build(corpus.where("doc_id = 1"), path, "text", "doc_id")
    real_publish = D._store_manifest_publish

    def boom(p, batch_id, schemas=None):
        raise RuntimeError("simulated crash before manifest publish")

    monkeypatch.setattr(D, "_store_manifest_publish", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        D.substring_store_append(corpus.where("doc_id = 2"), path, "text", "doc_id")
    monkeypatch.setattr(D, "_store_manifest_publish", real_publish)

    # retried append: probe equals the crash-free store exactly
    D.substring_store_append(corpus.where("doc_id = 2"), path, "text", "doc_id")
    got = {
        (r.d1, r.d2, r.d1_pos, r.d2_pos, r.span_tokens)
        for r in D.substring_probe_store(batch, path, "text", "doc_id").collect()
    }
    assert got == want

    # exactly one orphan (the crashed append); vacuum reclaims it
    committed = set(D._store_manifest(path))
    on_disk = {
        e.split("=", 1)[1]
        for e in os.listdir(path + "/counts")
        if e.startswith("batch=")
    }
    assert len(on_disk - committed) == 1
    assert set(D.store_vacuum(path)) == on_disk - committed
    got2 = {
        (r.d1, r.d2, r.d1_pos, r.d2_pos, r.span_tokens)
        for r in D.substring_probe_store(batch, path, "text", "doc_id").collect()
    }
    assert got2 == want


def test_substring_store_probe_prunes_buckets(spark, tmp_path):
    """The probe must reach the store through a PARTITION FILTER on
    the fingerprint bucket — probe IO tracks the batch's bucket set,
    not the store size. A small batch against a 64-bucket store must
    plan `bkt IN (...)` on the store scan with fewer buckets than the
    store holds, and still find its planted span."""
    from full_docker_etl_spark.operators.dedup import (
        substring_probe_store,
        substring_store_build,
    )

    corpus = spark.createDataFrame(
        [(i, " ".join(f"s{i}_{j}" for j in range(40))) for i in range(40)]
        + [(999, " ".join(f"pp{j}" for j in range(25)))],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bstore")
    substring_store_build(
        corpus, path, "text", "doc_id", n_buckets=64
    )
    batch = spark.createDataFrame(
        [(2000, " ".join(f"pp{j}" for j in range(25)) + " tail x y")],
        "doc_id long, text string",
    )
    # eager=False: the serving default materializes the result (an
    # eager localCheckpoint, so the per-probe caches can be released),
    # which collapses the returned plan to a LogicalRDD scan — the
    # lazy mode exposes the SAME logical plan the eager mode executes,
    # which is what this pin inspects.
    probe = substring_probe_store(batch, path, "text", "doc_id", eager=False)
    plan = probe._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    m = re.search(
        r"PartitionFilters: \[[^]\n]*bkt[^]\n]*IN(?:SET)? \(?([0-9, ]+)\)?\]",
        plan,
    )
    assert m, plan
    assert 0 < len(m.group(1).split(",")) < 64
    assert [(r.d1, r.d2, r.span_tokens) for r in probe.collect()] == [
        (999, 2000, 25)
    ]


def test_store_compact_substring_preserves_probe(spark, docs, tmp_path):
    """Compaction must shrink the store's file census (the additive
    log folds to one segment, buckets coalesce) while leaving probe
    output BYTE-IDENTICAL — the store is maintenance-rewritten, never
    semantically changed."""
    from full_docker_etl_spark.operators.dedup import (
        store_compact,
        store_stats,
        substring_probe_store,
        substring_store_append,
        substring_store_build,
    )

    path = str(tmp_path / "cstore")
    substring_store_build(
        docs.where("doc_id % 5 = 1"), path, "text", "doc_id"
    )
    for m in (2, 3, 4):
        substring_store_append(
            docs.where(f"doc_id % 5 = {m}"), path, "text", "doc_id"
        )
    batch = docs.where("doc_id % 5 = 0")

    def rows():
        return {
            tuple(r)
            for r in substring_probe_store(
                batch, path, "text", "doc_id"
            ).collect()
        }

    def census():
        tables = store_stats(path)["tables"]
        return {t: tables[t]["files"] for t in ("fps", "counts")}

    pre = rows()
    before = census()
    store_compact(spark, path)
    after = census()
    assert after["counts"] == 1
    assert after["counts"] < before["counts"]
    assert after["fps"] <= before["fps"]
    assert rows() == pre and pre


def test_substring_probe_apply_keep_admitted_first(spark, tmp_path):
    """Scrubbing a batch against the store must cut the BATCH copy
    even when the batch doc has the LOWER id (admission order outranks
    id order — the corpus is immutable), cut the higher id inside
    batch×batch pairs, and omit untouched batch docs."""
    from full_docker_etl_spark.operators.dedup import (
        substring_probe_apply,
        substring_store_build,
    )

    P = " ".join(f"cp{i}" for i in range(25))
    Q = " ".join(f"cq{i}" for i in range(25))
    store = spark.createDataFrame([(5000, P)], "doc_id long, text string")
    path = str(tmp_path / "astore")
    substring_store_build(store, path, "text", "doc_id")
    batch = spark.createDataFrame(
        [
            (10, "a b " + P + " c"),  # store passage, LOWER id than 5000
            (11, Q),                  # canonical inside the batch
            (12, Q + " tail w1 w2"),  # batch×batch dup of 11
            (13, " ".join(f"u{j}" for j in range(30))),  # untouched
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in substring_probe_apply(
            batch, path, "text", "doc_id"
        ).collect()
    }
    assert set(got) == {10, 12}
    assert got[10] == (28, 25, "a b c")
    assert got[12] == (28, 25, "tail w1 w2")


def test_substring_store_degenerate_empty_store(spark, tmp_path):
    """A store built from docs too short to fingerprint has zero data
    files; probing it must see an empty corpus — batch×batch spans
    still found, no schema-inference crash."""
    from full_docker_etl_spark.operators.dedup import (
        substring_probe_store,
        substring_store_build,
    )

    shorties = spark.createDataFrame(
        [(1, "too short"), (2, "tiny")], "doc_id long, text string"
    )
    path = str(tmp_path / "estore")
    substring_store_build(shorties, path, "text", "doc_id")
    R = " ".join(f"r{i}" for i in range(25))
    batch = spark.createDataFrame(
        [(10, R), (11, R + " tail")], "doc_id long, text string"
    )
    got = [
        (r.d1, r.d2, r.span_tokens)
        for r in substring_probe_store(
            batch, path, "text", "doc_id"
        ).collect()
    ]
    assert got == [(10, 11, 25)]


def test_store_compact_substring_degenerate_empty_store(spark, tmp_path):
    """Compacting a store with zero data files must not crash and must
    leave it probeable (still an empty corpus): two file-less batches
    fold into one."""
    from full_docker_etl_spark.operators.dedup import (
        store_compact,
        substring_probe_store,
        substring_store_append,
        substring_store_build,
    )

    path = str(tmp_path / "cestore")
    substring_store_build(
        spark.createDataFrame([(1, "tiny")], "doc_id long, text string"),
        path, "text", "doc_id",
    )
    substring_store_append(
        spark.createDataFrame([(2, "too short")], "doc_id long, text string"),
        path, "text", "doc_id",
    )
    assert len(store_compact(spark, path)) == 2
    R = " ".join(f"e{i}" for i in range(25))
    batch = spark.createDataFrame(
        [(10, R), (11, R)], "doc_id long, text string"
    )
    got = substring_probe_store(batch, path, "text", "doc_id").collect()
    assert [(r.d1, r.d2, r.span_tokens) for r in got] == [(10, 11, 25)]


def test_store_file_less_table_reads_its_logical_schema(spark, tmp_path):
    """A table with no data file (a partitioned write of no rows) reads
    with the columns and types it has once it holds data — its pinned
    partition columns, none it does not carry — before and after a
    compaction; a manifest that pins no partition columns (an earlier
    release) still probes as an empty corpus."""
    from full_docker_etl_spark.operators import dedup as D

    full, empty = str(tmp_path / "full"), str(tmp_path / "empty")
    R = " ".join(f"f{i}" for i in range(25))
    D.substring_store_build(
        spark.createDataFrame([(1, R)], "doc_id long, text string"),
        full, "text", "doc_id",
    )
    D.substring_store_build(
        spark.createDataFrame([(1, "tiny")], "doc_id long, text string"),
        empty, "text", "doc_id",
    )
    D.substring_store_append(
        spark.createDataFrame([(2, "too short")], "doc_id long, text string"),
        empty, "text", "doc_id",
    )
    want = {
        t: D._store_read_committed(spark, full, t).dtypes
        for t in ("fps", "counts")
    }
    for _ in range(2):  # before and after the compaction
        for table, dtypes in want.items():
            got = D._store_read_committed(spark, empty, table).dtypes
            assert got == dtypes
        D.store_compact(spark, empty)
    doc = D._store_manifest_load(empty)
    D._store_manifest_write(
        empty, doc["batches"], doc["displaced"], doc["schemas"]
    )
    batch = spark.createDataFrame(
        [(10, R), (11, R)], "doc_id long, text string"
    )
    got = D.substring_probe_store(batch, empty, "text", "doc_id").collect()
    assert [(r.d1, r.d2, r.span_tokens) for r in got] == [(10, 11, 25)]


def test_substring_store_cap_counts_store_plus_batch(spark, tmp_path):
    """The occurrence cap must apply to store+batch TOTALS: a passage
    under the cap against one store copy is reported, but a second
    store copy pushes its shingles over the cap and the probe must go
    dark — exactly as a from-scratch run over the union would."""
    from full_docker_etl_spark.operators.dedup import (
        substring_probe_store,
        substring_store_append,
        substring_store_build,
    )

    P = " ".join(f"c{i}" for i in range(25))
    one = spark.createDataFrame([(1, P)], "doc_id long, text string")
    extra = spark.createDataFrame([(3, P)], "doc_id long, text string")
    batch = spark.createDataFrame([(2, P)], "doc_id long, text string")

    p1 = str(tmp_path / "under")
    substring_store_build(one, p1, "text", "doc_id", n=5, max_occ=2)
    found = substring_probe_store(
        batch, p1, "text", "doc_id", n=5, min_tokens=20, max_occ=2
    ).collect()
    assert [(r.d1, r.d2, r.span_tokens) for r in found] == [(1, 2, 25)]

    substring_store_append(extra, p1, "text", "doc_id")  # occ now 3 > 2
    assert (
        substring_probe_store(
            batch, p1, "text", "doc_id", n=5, min_tokens=20, max_occ=2
        ).count()
        == 0
    )
    # parameter mismatch refuses loudly, never returns empty silently
    with pytest.raises(ValueError, match="parameter mismatch"):
        substring_probe_store(
            batch, p1, "text", "doc_id", n=4, min_tokens=20, max_occ=2
        )


def test_bigram_cross_entropy_ranks_gibberish_highest(spark):
    """The LM-perplexity filter's one job: text whose transitions are
    typical of the corpus scores LOW, gibberish (bigrams seen nowhere
    else) scores HIGHEST; identical docs score identically; docs with
    fewer than two tokens are absent."""
    from full_docker_etl_spark.operators.text import bigram_cross_entropy

    common = "alpha beta gamma delta epsilon zeta " * 3
    rows = [(i, common.strip()) for i in range(4)]
    rows.append((99, "zq1 xv2 kw3 jr4 qp5 mn6"))
    rows.append((100, "solo"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.xent for r in bigram_cross_entropy(
            df, "text", "doc_id"
        ).collect()
    }
    assert 100 not in got
    assert len({got[i] for i in range(4)}) == 1  # identical docs tie
    assert got[99] > got[0]


def test_bigram_cross_entropy_differential_vs_reference(spark):
    """Differential stress: seeded random small-vocab corpora must
    match a naive Python reference of the same model (counts, add-k
    smoothing, mean −log2) to within the 4-dp rounding grid."""
    import math
    import random
    from collections import Counter

    from full_docker_etl_spark.operators.text import bigram_cross_entropy

    for seed in range(6):
        rng = random.Random(seed)
        docs = {
            did: [
                rng.choice(["a", "b", "c", "d"])
                for _ in range(rng.randrange(0, 12))
            ]
            for did in range(rng.randrange(2, 7))
        }
        df = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in docs.items()],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.n_bigrams, r.xent)
            for r in bigram_cross_entropy(df, "text", "doc_id").collect()
        }
        # naive reference
        bigrams = {
            d: list(zip(t, t[1:])) for d, t in docs.items() if len(t) >= 2
        }
        c12 = Counter(b for bs in bigrams.values() for b in bs)
        c1 = Counter(b[0] for bs in bigrams.values() for b in bs)
        # NOTE: split('') yields one empty token, so zero-length docs
        # still contribute '' to the engine's vocabulary — mirror that
        vocab = len({w for t in docs.values() for w in t} | (
            {""} if any(len(t) == 0 for t in docs.values()) else set()
        ))
        want = {}
        for d, bs in bigrams.items():
            if not bs:
                continue
            nll = [
                -math.log2((c12[b] + 0.5) / (c1[b[0]] + 0.5 * vocab))
                for b in bs
            ]
            want[d] = (len(bs), round(sum(nll) / len(nll), 4))
        assert set(got) == set(want), (seed, docs)
        for d in want:
            assert got[d][0] == want[d][0]
            assert abs(got[d][1] - want[d][1]) <= 1e-4, (seed, d, docs)


def test_nb_classifier_separates_planted_domains(spark):
    """The trained-filter's one job: docs whose tokens dominate the
    positive seed class score positive, negative-domain docs score
    negative, and a doc mixing both lands between them; identical
    docs tie exactly."""
    from full_docker_etl_spark.operators.text import nb_quality_classifier

    rows = [
        (0, "wiki wiki cite cite ref wiki", 1),
        (1, "wiki cite ref wiki cite wiki", 1),
        (2, "spam spam click click buy spam", 0),
        (3, "spam click buy spam click spam", 0),
        (4, "wiki cite spam click ref buy", 0),
        (5, "wiki wiki cite cite ref wiki", 0),  # pos text, neg label
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    got = {
        r.doc_id: (r.log_odds, r.pred_pos)
        for r in nb_quality_classifier(df, "text", "doc_id", "y").collect()
    }
    assert len(got) == 6
    assert got[0][1] and got[1][1]          # positive-domain docs
    assert not got[2][1] and not got[3][1]  # negative-domain docs
    assert got[0][0] == got[5][0]           # same text → same score
    assert got[2][0] < got[4][0] < got[0][0]  # mixed doc in between


def test_nb_classifier_differential_vs_reference(spark):
    """Differential stress: seeded random small-vocab corpora with
    random labels must match a naive Python reference of the same
    model (add-1 NB log-odds + smoothed prior) on the 4-dp grid."""
    import math
    import random
    from collections import Counter

    from full_docker_etl_spark.operators.text import nb_quality_classifier

    for seed in range(6):
        rng = random.Random(1000 + seed)
        docs = {
            did: (
                [rng.choice(["a", "b", "c", "d"]) for _ in
                 range(rng.randrange(1, 10))],
                rng.randrange(2),
            )
            for did in range(rng.randrange(2, 7))
        }
        df = spark.createDataFrame(
            [(d, " ".join(t), y) for d, (t, y) in docs.items()],
            "doc_id long, text string, y int",
        )
        got = {
            r.doc_id: (r.n_tokens, r.log_odds, r.pred_pos)
            for r in nb_quality_classifier(
                df, "text", "doc_id", "y"
            ).collect()
        }
        c_pos = Counter(w for t, y in docs.values() if y == 1 for w in t)
        c_neg = Counter(w for t, y in docs.values() if y == 0 for w in t)
        tot_pos, tot_neg = sum(c_pos.values()), sum(c_neg.values())
        v = len({w for t, _ in docs.values() for w in t})
        n_pos = sum(1 for _, y in docs.values() if y == 1)
        lp = math.log((n_pos + 1.0) / (len(docs) - n_pos + 1.0))
        want = {}
        for d, (t, _) in docs.items():
            slo = sum(
                math.log((c_pos[w] + 1.0) / (tot_pos + v))
                - math.log((c_neg[w] + 1.0) / (tot_neg + v))
                for w in t
            )
            lo = round(slo + lp, 4)
            want[d] = (len(t), lo, lo > 0)
        assert set(got) == set(want), (seed, docs)
        for d in want:
            assert got[d][0] == want[d][0], (seed, d)
            assert abs(got[d][1] - want[d][1]) <= 1e-4, (seed, d, docs)
            assert got[d][2] == want[d][2], (seed, d)


def test_contamination_hits_planted_overlap(spark):
    """A corpus doc embedding a benchmark 5-gram must be flagged with
    the right distinct-hit count; clean docs must not appear."""
    from full_docker_etl_spark.operators.text import contamination_hits

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains both benchmark 5-grams (positions 1 and 2)
            (10, "x alpha beta gamma delta epsilon zeta y"),
            # contains exactly one (the first five tokens)
            (11, "alpha beta gamma delta epsilon DIFFERENT tail here"),
            (12, "completely unrelated text with no overlap at all ok"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_hits for r in contamination_hits(corpus, bench, "text", "doc_id").collect()}
    assert got == {10: 2, 11: 1}


def test_repetition_ratio_values(spark):
    from full_docker_etl_spark.operators.text import repetition_ratio
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c a b c"),   # looped template: high
            (2, "one two three four five six"),  # all distinct: 0.0
            (3, "a b"),                        # shorter than n: 0.0
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.r for r in df.select("doc_id", repetition_ratio(F.col("text"), 3).alias("r")).collect()}
    assert got[2] == 0.0 and got[3] == 0.0
    assert got[1] > 0.6  # 10 grams, 3 distinct -> 0.7


def test_pii_scrub_masks_and_counts(spark):
    from full_docker_etl_spark.operators.text import pii_scrub
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c%d@sub.example.co.uk then 192.168.0.1 done"),
            (2, "call +62-555-0042 or +1-800-12345678 today"),
            (3, "two mails x@y.io z@w.ai and ip 10.0.0.7"),
            (4, "nothing sensitive here at all"),
        ],
        "doc_id long, text string",
    )
    cols = pii_scrub(F.col("text"))
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            cols["n_email"].alias("n_email"),
            cols["n_ipv4"].alias("n_ipv4"),
            cols["n_phone"].alias("n_phone"),
            cols["clean_text"].alias("clean"),
        ).collect()
    }
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (1, 1, 0)
    assert got[1].clean == "mail <EMAIL> then <IP> done"
    assert (got[2].n_email, got[2].n_ipv4, got[2].n_phone) == (0, 0, 2)
    assert got[2].clean == "call <PHONE> or <PHONE> today"
    assert (got[3].n_email, got[3].n_ipv4) == (2, 1)
    assert got[3].clean == "two mails <EMAIL> <EMAIL> and ip <IP>"
    assert got[4].clean == "nothing sensitive here at all"


def test_simhash_pigeonhole_exact_on_slice(spark, docs):
    """The blocked candidate set must contain EVERY true hamming<=3
    pair (pigeonhole) — the same invariant dedup_simhash_recall pins
    externally, checked here on the full fixture corpus."""
    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.dedup import simhash, simhash_pairs

    sig = simhash(docs, "text", "doc_id")
    left = sig.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"))
    right = sig.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"))
    truth = (
        left.join(F.broadcast(right), F.col("d1") < F.col("d2"))
        .where(F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))) <= 3)
        .select("d1", "d2")
    )
    found = simhash_pairs(docs, "text", "doc_id", max_hamming=3).select("d1", "d2")
    missing = truth.exceptAll(found).count()
    assert missing == 0, f"pigeonhole violated: {missing} true pairs unblocked"


def test_minhash_store_probe_equals_batch_restricted_full_pairs(
    spark, docs, tmp_path
):
    """The incremental probe must generate EXACTLY the full
    MinHash-LSH pairs that touch the batch (same buckets, same
    estimate), and never a store×store pair."""
    from full_docker_etl_spark.operators.dedup import (
        minhash_probe_store,
        minhash_store_build,
    )

    batch = docs.where(F.col("doc_id") % 5 == 0)
    store = docs.where(F.col("doc_id") % 5 != 0)
    path = str(tmp_path / "store")
    minhash_store_build(store, path, "text", "doc_id")
    rows = minhash_probe_store(
        batch, path, "text", "doc_id", threshold=0.5
    ).collect()
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    assert rows, "probe found nothing — fixture should contain near-dups"
    assert all(r.d2 in batch_ids for r in rows)          # d2 is always new
    assert all(r.d1_in_store == (r.d1 not in batch_ids) for r in rows)
    got = {(min(r.d1, r.d2), max(r.d1, r.d2), r.est_jaccard) for r in rows}
    full = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    expected = {
        (min(r.d1, r.d2), max(r.d1, r.d2), r.est_jaccard)
        for r in full
        if r.d1 in batch_ids or r.d2 in batch_ids
    }
    assert got == expected


def test_minhash_store_crash_retry_and_compact(spark, docs, tmp_path, monkeypatch):
    """Round-15: the MinHash store's two appends (/sigs, /bands) were
    non-atomic — a crash between them left a batch visible in
    verification but unfindable as a candidate, and a retry duplicated
    signature rows (fanning the verify joins into duplicated pairs).
    With the manifest model the crashed append is invisible, the retry
    probes identically to a crash-free store, vacuum reclaims the
    orphan, and compaction folds the batches without changing probe
    results."""
    import os

    from full_docker_etl_spark.operators import dedup as D

    batch = docs.where(F.col("doc_id") % 5 == 0)
    s1 = docs.where(F.col("doc_id") % 5 == 1)
    rest = docs.where("doc_id % 5 not in (0, 1)")

    def norm(rows):
        return {(min(r.d1, r.d2), max(r.d1, r.d2), r.est_jaccard) for r in rows}

    ref = str(tmp_path / "ref")
    D.minhash_store_build(s1, ref, "text", "doc_id")
    D.minhash_store_append(rest, ref, "text", "doc_id")
    want = norm(D.minhash_probe_store(batch, ref, "text", "doc_id").collect())
    assert want

    path = str(tmp_path / "crash")
    D.minhash_store_build(s1, path, "text", "doc_id")
    real_publish = D._store_manifest_publish

    def boom(p, batch_id, schemas=None):
        raise RuntimeError("simulated crash before manifest publish")

    monkeypatch.setattr(D, "_store_manifest_publish", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        D.minhash_store_append(rest, path, "text", "doc_id")
    monkeypatch.setattr(D, "_store_manifest_publish", real_publish)

    D.minhash_store_append(rest, path, "text", "doc_id")
    rows = D.minhash_probe_store(batch, path, "text", "doc_id").collect()
    assert norm(rows) == want
    # the retry duplicated nothing: one row per (pair, orientation)
    keys = [(r.d1, r.d2) for r in rows]
    assert len(keys) == len(set(keys))

    orphans = set(D.store_vacuum(path))
    assert len(orphans) == 1
    assert norm(
        D.minhash_probe_store(batch, path, "text", "doc_id").collect()
    ) == want

    # compaction folds 2 committed batches into 1, probe unchanged;
    # the displaced batches await an explicit vacuum (deferred so
    # probes planned under the old manifest keep their files)
    assert len(D._store_manifest(path)) == 2
    displaced = D.store_compact(spark, path)
    assert len(displaced) == 2
    assert len(D._store_manifest(path)) == 1
    assert set(D.store_vacuum(path)) == set(displaced)
    for table in ("sigs", "bands"):
        parts = [
            e for e in os.listdir(os.path.join(path, table))
            if e.startswith("batch=")
        ]
        assert len(parts) == 1
    assert norm(
        D.minhash_probe_store(batch, path, "text", "doc_id").collect()
    ) == want
    assert D.store_compact(spark, path) == []


def test_pii_scrub_idempotent_and_lossless_on_clean_text(spark):
    """Scrubbing is IDEMPOTENT (placeholders match no pattern, so a
    second pass is a no-op) and the identity on already-clean text —
    the properties that make it safe to re-run over a partially
    processed corpus."""
    from full_docker_etl_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a@b.io from 10.1.2.3 call +62-555-0042 end"),
            (2, "plain sentence with digits 123 and dots a.b. here"),
        ],
        "doc_id long, text string",
    )
    once = df.select(
        "doc_id", pii_scrub(F.col("text"))["clean_text"].alias("text")
    )
    twice = once.select(
        "doc_id", pii_scrub(F.col("text"))["clean_text"].alias("text")
    )
    assert once.exceptAll(twice).count() == 0
    r2 = {r.doc_id: r.text for r in once.collect()}
    assert r2[2] == "plain sentence with digits 123 and dots a.b. here"


def test_epoch_shuffle_more_shards_than_rows(spark):
    """n_shards above the row count must still yield dense per-shard
    positions (some shards simply stay empty) — the degenerate-corpus
    guard for shard-count autotuning."""
    from full_docker_etl_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    out = epoch_shuffle(df, "doc_id", seed="e", n_shards=64).collect()
    assert len(out) == 5
    per_shard = {}
    for r in out:
        per_shard.setdefault(r.shard, []).append(r.pos)
    for positions in per_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))


def test_extracted_features_feed_the_ann_tier(spark, sf_dir):
    """The multimodal feature vectors compose directly with the ANN
    operators: brute-force cosine top-k over extracted features runs
    end to end, self is every query's nearest neighbor, and the
    vectors are deterministic across extractions."""
    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.multimodal import (
        documents_as_binary,
        extract_features,
    )
    from full_docker_etl_spark.operators.similarity import cosine_topk
    from full_docker_etl_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(
        documents_as_binary(docs), "doc_id", "payload"
    )
    corpus = feats.selectExpr("doc_id AS vec_id", "features AS embedding")
    # plant byte-identical clones under new ids: the clone's vector is
    # identical, so it must be every planted query's rank-1 neighbor
    # (cosine_topk excludes self by design)
    clones = (
        documents_as_binary(docs.where(F.col("doc_id") < 5))
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "payload")
    )
    cfeats = extract_features(clones, "doc_id", "payload")
    full = corpus.unionByName(
        cfeats.selectExpr("doc_id AS vec_id", "features AS embedding")
    )
    queries = corpus.where(F.col("vec_id") < 5).selectExpr(
        "vec_id AS qid", "embedding AS qvec"
    )
    top = cosine_topk(queries, full, k=3)
    best = {r.qid: r.vec_id for r in top.where("rank = 1").collect()}
    assert best == {q: q + 1_000_000 for q in range(5)}, best
    again = extract_features(documents_as_binary(docs), "doc_id", "payload")
    assert feats.exceptAll(again).count() == 0


def test_ivf_multi_assign_recall_on_spread_probe(spark, sf_dir):
    """The honest recall number: on the HASH-SPREAD probe slice (not
    the flattering low-id one), 2-way corpus multi-assignment at
    nprobe=6 must hold the registered queries' 0.75 floor — and beat
    the single-assign configuration it replaced (round-6 verdict ask:
    recall on vec_id<10 is not recall on the corpus)."""
    from full_docker_etl_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )
    from full_docker_etl_spark.queries.llm_q import _ann_query_corpus

    queries, corpus = _ann_query_corpus(spark, sf_dir)
    brute = {
        (r.qid, r.vec_id)
        for r in cosine_topk(queries, corpus, k=5).collect()
    }

    def recall(nprobe, n_assign):
        got = {
            (r.qid, r.vec_id)
            for r in ivf_topk(
                queries, corpus, k=5, n_centroids=16,
                nprobe=nprobe, n_assign=n_assign,
            ).collect()
        }
        return len(brute & got) / len(brute)

    multi = recall(6, 2)
    single = recall(6, 1)
    assert multi >= 0.75, f"multi-assign recall below floor: {multi}"
    assert multi > single, (multi, single)


def test_compression_features_empty_text_is_null(spark):
    """Empty/NULL text must carry NULL ratios, not the 8.0
    stream-overhead artifact of compress(b'')/1 — and the verdict's
    range invariant must therefore survive a corpus containing empty
    documents (F.min skips NULL)."""
    from full_docker_etl_spark.operators.text import compression_features

    df = spark.createDataFrame(
        [(1, "a meaningful sentence " * 10), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in compression_features(df).collect()}
    assert rows[2].comp_ratio is None and rows[2].comp_ratio_2x is None
    assert rows[3].comp_ratio is None and rows[3].comp_ratio_2x is None
    assert 0 < rows[1].comp_ratio <= 1.2
    in_range = compression_features(df).agg(
        F.min(
            (F.col("comp_ratio") > 0) & (F.col("comp_ratio") <= 1.2)
        ).alias("ok")
    ).collect()[0].ok
    assert in_range is True


def test_ivf_sq_quantization_bounds_and_recall(spark, sf_dir):
    """The int8 scalar-quantized IVF tier: codes must stay in [-127,
    127] with per-component reconstruction error ≤ scale/254 + eps
    (half a quantization step), and the re-ranked top-k must hold the
    float tier's recall floor on the spread probe slice — quantization
    may only demote candidates out of the re-rank window, never
    corrupt the exact final scores."""
    from full_docker_etl_spark.operators.similarity import (
        cosine_topk,
        ivf_sq_topk,
        sq_quantize,
        sq_scale,
    )
    from full_docker_etl_spark.queries.llm_q import _ann_query_corpus

    queries, corpus = _ann_query_corpus(spark, sf_dir)
    scale = sq_scale(corpus)
    assert scale > 0
    sample = corpus.limit(20).select(
        "embedding", sq_quantize(F.col("embedding"), scale).alias("q8")
    ).collect()
    step = scale / 127
    for r in sample:
        for x, q in zip(r.embedding, r.q8):
            assert -127 <= q <= 127
            assert abs(x - q * step) <= step / 2 + 1e-9
    exact = {
        (r.qid, r.vec_id) for r in cosine_topk(queries, corpus, k=5).collect()
    }
    approx = ivf_sq_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=6, n_assign=2,
        rerank_factor=4,
    )
    got = {(r.qid, r.vec_id) for r in approx.collect()}
    assert len(exact & got) / len(exact) >= 0.75
    # the exact pass owns the returned scores: every returned cos_sim
    # must equal the brute-force score for that pair
    brute = {
        (r.qid, r.vec_id): r.cos_sim
        for r in cosine_topk(queries, corpus, k=500).collect()
    }
    for r in approx.collect():
        assert abs(brute[(r.qid, r.vec_id)] - r.cos_sim) < 1e-9


def test_sq_scale_degenerate_corpora(spark):
    """An empty or all-zero corpus must refuse at scale-derivation time
    with a clear error — not divide by zero inside a task where the
    ANSI tinyint cast throws an opaque overflow."""
    from full_docker_etl_spark.operators.similarity import sq_scale

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        sq_scale(empty)
    zeros = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="all-zero"):
        sq_scale(zeros)


def test_pq_trained_codebooks_small_corpus(spark):
    """Driver-side Lloyd's on a corpus SMALLER than k: the codebook
    simply holds every vector's subspaces (no crash, no padding), all
    codewords stay finite, and encode round-trips — the shape contract
    of the trained path at any corpus size."""
    import math

    from full_docker_etl_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(8)])
        for i in range(6)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books, d = pq_codebooks(corpus, m=2, k=16, train_iters=2)
    assert d == 4
    brow = books.first()
    assert len(brow._books) == 2
    assert all(len(bm) == 6 for bm in brow._books)  # corpus < k
    assert all(
        math.isfinite(x) for bm in brow._books for cw in bm for x in cw
    )
    enc = pq_encode(corpus, books, d, m=2).collect()
    assert all(0 <= c < 6 for r in enc for c in r._pqc)
    assert all(math.isfinite(r._pqn) for r in enc)


def test_ivf_pq_encode_and_recall(spark, sf_dir):
    """Product quantization: every code must index the genuinely
    L2-nearest codeword of its subspace (checked against a NumPy
    recomputation on a sample), the stored reconstruction norm must
    equal the codeword-norm sum, and the ADC + re-rank pipeline must
    hold its recall floor with exact final scores."""
    import numpy as np

    from full_docker_etl_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_topk,
        pq_codebooks,
        pq_encode,
    )
    from full_docker_etl_spark.queries.llm_q import _ann_query_corpus

    queries, corpus = _ann_query_corpus(spark, sf_dir)
    m = 8
    books, d = pq_codebooks(corpus, m=m, k=64)
    brow = books.collect()[0]
    bk = [np.array(sub, dtype=float) for sub in brow._books]
    enc = pq_encode(corpus, books, d, m=m).limit(10).collect()
    for r in enc:
        v = np.array(r.embedding, dtype=float)
        n2 = 0.0
        for mm in range(m):
            sub = v[mm * d : (mm + 1) * d]
            dists = ((bk[mm] - sub) ** 2).sum(axis=1)
            assert r._pqc[mm] == int(dists.argmin())
            n2 += (bk[mm][r._pqc[mm]] ** 2).sum()
        assert abs(r._pqn - n2 ** 0.5) < 1e-6
    exact_df = cosine_topk(queries, corpus, k=5)
    exact = {(r.qid, r.vec_id) for r in exact_df.collect()}
    approx = ivf_pq_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=6, n_assign=2,
        rerank_factor=12,
    )
    got = list(approx.collect())
    assert len({(r.qid, r.vec_id) for r in got} & exact) / len(exact) >= 0.7
    brute = {
        (r.qid, r.vec_id): r.cos_sim
        for r in cosine_topk(queries, corpus, k=500).collect()
    }
    for r in got:
        assert abs(brute[(r.qid, r.vec_id)] - r.cos_sim) < 1e-9


def test_pq_incremental_merge_equals_rebuild(spark, sf_dir, tmp_path):
    """Quantized-index maintenance: with FROZEN codebooks, encoding a
    late-arriving slice and partition-scoped MERGING it into the
    versioned code lists must yield code lists IDENTICAL to encoding
    the full corpus from scratch — codes depend only on (vector,
    codebook), so incremental ≡ rebuild. This is what makes a 100 TB
    PQ index maintainable: new vectors encode against the shipped
    codebooks and only their lists rewrite; no re-training, no
    re-encode of the resident corpus."""
    from full_docker_etl_spark.operators.similarity import (
        assign_nearest,
        pq_codebooks,
        pq_encode,
    )
    from full_docker_etl_spark.queries.llm_q import (
        _ann_query_corpus,
        _first_k_centroids,
    )
    from full_docker_etl_spark.sources.sinks import VersionedTable

    _, corpus = _ann_query_corpus(spark, sf_dir)
    cents = _first_k_centroids(corpus)
    books, d = pq_codebooks(corpus, m=8, k=64)

    def lists(df):
        return pq_encode(
            assign_nearest(df, "embedding", cents, 1), books, d, m=8
        ).select("vec_id", "centroid", "_pqc", "_pqn")

    table = VersionedTable(
        str(tmp_path / "pq_lists"), keep_versions=2,
        partition_by=("centroid",),
    )
    table.overwrite(lists(corpus.where(F.col("vec_id") % 5 != 0)))
    table.merge(
        lists(corpus.where(F.col("vec_id") % 5 == 0)),
        keys=["vec_id", "centroid"],
    )
    inc = {
        (r.vec_id, tuple(r._pqc), round(r._pqn, 9))
        for r in table.read(spark).collect()
    }
    full = {
        (r.vec_id, tuple(r._pqc), round(r._pqn, 9))
        for r in lists(corpus).collect()
    }
    assert inc == full


def test_semantic_dedup_links_planted_and_keeps_singletons(spark, embs):
    """SemDeDup tier semantics: near-identical vectors fold to the
    lowest id of their component, far-apart vectors keep themselves,
    every input id appears exactly once, and degenerate vectors
    self-represent."""
    from full_docker_etl_spark.operators.dedup import semantic_dedup

    base = embs.where(F.col("vec_id") < 40).select("vec_id", "embedding")
    # two perturbed copies of vector 0 (a 3-node component) and one of
    # vector 7; copies get HIGH ids so rep = the base id
    def pert(src_id, new_id, eps):
        return base.where(F.col("vec_id") == src_id).select(
            F.lit(new_id).cast("long").alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * (1.0 + F.lit(eps))).cast("float")
            ).alias("embedding"),
        )

    degenerate = spark.createDataFrame(
        [(9001, []), (9002, None)], "vec_id long, embedding array<float>"
    ).where(F.col("vec_id") > 0)
    frame = (
        base.unionByName(pert(0, 500, 0.004))
        .unionByName(pert(0, 501, -0.004))
        .unionByName(pert(7, 502, 0.006))
        .unionByName(degenerate)
    )
    out = semantic_dedup(frame, "embedding", "vec_id", k=4, threshold=0.95)
    reps = {r.vec_id: r.rep_id for r in out.collect()}
    assert len(reps) == 45  # 40 base + 3 copies + 2 degenerate
    assert reps[500] == 0 and reps[501] == 0 and reps[502] == 7
    assert reps[9001] == 9001 and reps[9002] == 9002
    # precision: the testdata base vectors are mutually far (cos~0.48)
    assert all(reps[i] == i for i in range(40))


def test_semantic_dedup_cluster_cap_bounds_fanout(spark, embs):
    """With max_cluster forced tiny, over-cap clusters sub-bucket: the
    output stays one-row-per-input and every rep is a valid lower-or-
    equal id; a pair split across sub-buckets may split representatives
    (the documented miss class) but never merges wrong vectors."""
    from full_docker_etl_spark.operators.dedup import semantic_dedup

    base = embs.where(F.col("vec_id") < 60).select("vec_id", "embedding")
    out = semantic_dedup(
        base, "embedding", "vec_id", k=2, threshold=0.95, max_cluster=5
    )
    rows = out.collect()
    assert len(rows) == 60
    assert all(r.rep_id <= r.vec_id for r in rows)
    # far-apart corpus: nothing may merge regardless of bucketing
    assert all(r.rep_id == r.vec_id for r in rows)
    import pytest

    with pytest.raises(ValueError, match="max_cluster"):
        semantic_dedup(base, "embedding", "vec_id", max_cluster=1)
    with pytest.raises(ValueError, match="threshold"):
        semantic_dedup(base, "embedding", "vec_id", threshold=1.5)


def _bpe_reference(texts, k):
    """Naive single-machine BPE (Sennrich et al.): word-type counts,
    initial segmentation with '</w>' fused onto the final character
    (the published learn_bpe form), per-round pair argmax with
    (count desc, left, right) tie-break, greedy left-to-right merge
    application."""
    from collections import Counter

    wt = Counter(w for t in texts for w in t.split() if w)
    segs = {w: list(w[:-1]) + [w[-1] + "</w>"] for w in wt}
    merges = []
    for rnd in range(1, k + 1):
        pc = Counter()
        for w, f in wt.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), c = best
        merges.append((rnd, l, r, l + r, c))
        for w in segs:
            s, out = segs[w], []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            segs[w] = out
    return merges


def test_bpe_merge_table_differential_vs_reference(spark):
    """Seeded random small-alphabet corpora: the distributed merge
    table must equal the naive reference's, round for round — counts,
    tie-breaks, and greedy-application semantics included."""
    import random

    from full_docker_etl_spark.operators.text import bpe_merge_table

    for seed in range(5):
        rng = random.Random(2000 + seed)
        texts = [
            " ".join(
                "".join(rng.choice("ab") for _ in range(rng.randrange(1, 6)))
                for _ in range(rng.randrange(1, 15))
            )
            for _ in range(rng.randrange(2, 8))
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = [
            (r.round, r.left, r.right, r.merged, r.pair_count)
            for r in bpe_merge_table(df, "text", 5)
            .orderBy("round")
            .collect()
        ]
        assert got == _bpe_reference(texts, 5), (seed, texts)


def test_bpe_merge_table_early_stop_and_validation(spark):
    """Single-char single-word corpus has no pairs → empty table; a
    repeated-letter word merges greedily left-to-right (aa aa, not
    a aaa); k < 1 raises."""
    import pytest

    from full_docker_etl_spark.operators.text import bpe_merge_table

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    assert bpe_merge_table(df, "text", 3).count() == 0

    df2 = spark.createDataFrame([(0, "aaaa aaaa")], "doc_id long, text string")
    got = [
        (r.round, r.merged, r.pair_count)
        for r in bpe_merge_table(df2, "text", 2).orderBy("round").collect()
    ]
    # initial segs: a a a a</w> — raw pairs per word: (a,a)×2,
    # (a,a</w>)×1, so ×2 words round 1 merges (a,a) count 4 →
    # 'aa a a</w>'; round 2 ties (aa,a) and (a,a</w>) at 2 and the
    # (left, right) tie-break picks left='a' < 'aa'.
    assert got == [(1, "aa", 4), (2, "aa</w>", 2)]

    with pytest.raises(ValueError, match="k"):
        bpe_merge_table(df, "text", 0)


def test_new_operators_degenerate_shapes(spark):
    """Degenerate inputs must not crash or mis-score: a single-CLASS
    corpus still classifies (smoothed odds, all predicted positive);
    a single-GROUP budget plan gets weight 1 and planned == target;
    an all-null corpus yields an EMPTY census and an empty BPE table."""
    from full_docker_etl_spark.operators.profile import corpus_stats
    from full_docker_etl_spark.operators.sampling import token_budget_plan
    from full_docker_etl_spark.operators.text import (
        bpe_merge_table,
        nb_quality_classifier,
    )

    one_class = spark.createDataFrame(
        [(0, "wiki cite", 1), (1, "wiki ref", 1)],
        "doc_id long, text string, y int",
    )
    got = {r.doc_id: r.pred_pos for r in
           nb_quality_classifier(one_class, "text", "doc_id", "y").collect()}
    assert got == {0: True, 1: True}  # prior ln(3/1) > 0, odds ~ ln(v)

    # empty/whitespace-only texts must contribute NO tokens: '' must
    # not enter the vocab or the class totals (r11 advice item — the
    # other token operators already apply the length>0 predicate), and
    # a model trained with such docs present must score untouched docs
    # identically to one trained without them.
    clean = spark.createDataFrame(
        [(0, "wiki cite", 1), (1, "spam buy", 0)],
        "doc_id long, text string, y int",
    )
    noisy = clean.unionByName(
        spark.createDataFrame(
            [(2, "   ", 1), (3, "", 0)],
            "doc_id long, text string, y int",
        )
    )
    from full_docker_etl_spark.operators.text import nb_train

    odds_noisy, _ = nb_train(noisy, "text", "y")
    assert "" not in {r.w for r in odds_noisy.collect()}
    score_clean = {
        (r.doc_id, r.n_tokens, r.log_odds)
        for r in nb_quality_classifier(
            clean, "text", "doc_id", "y"
        ).collect()
    }
    score_noisy = {
        (r.doc_id, r.n_tokens, r.log_odds)
        for r in nb_quality_classifier(
            noisy, "text", "doc_id", "y"
        ).collect()
        if r.doc_id in (0, 1)
    }
    assert score_clean != set() and score_clean == score_noisy

    one_group = spark.createDataFrame(
        [("a", 100), ("a", 200)], "source string, ntok long"
    )
    r = token_budget_plan(
        one_group, "source", "ntok", budget_frac=0.5, alpha=0.5,
        max_epochs=2.0,
    ).collect()[0]
    assert r.weight == 1.0 and r.epochs == 0.5
    assert r.planned_tokens == r.target_tokens == 150.0
    assert r.achieved_share == 1.0

    nulls = spark.createDataFrame(
        [(0, None), (1, None)], "doc_id long, text string"
    )
    assert corpus_stats(nulls, "text", "doc_id").count() == 0
    assert bpe_merge_table(nulls, "text", 2).count() == 0


def test_bpe_tokenize_matches_reference_segmentation(spark):
    """Applying the learned merges must count exactly what the naive
    reference's final segmentation counts, per doc; a fully-merged
    word reaches ratio contributions of 1 token."""
    from full_docker_etl_spark.operators.text import bpe_tokenize

    texts = ["low low lower", "new newer new", "low new"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.bpe_ratio)
        for r in bpe_tokenize(df, "text", "doc_id", 4).collect()
    }
    # reference: learn 4 merges on the same corpus, segment, count
    merges = _bpe_reference(texts, 4)
    segs = {}
    for t in texts:
        for w in t.split():
            segs.setdefault(w, list(w[:-1]) + [w[-1] + "</w>"])
    for _, l, r, _, _ in merges:
        for w, s in segs.items():
            out = []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            segs[w] = out
    want = {}
    for i, t in enumerate(texts):
        ws = t.split()
        nb = sum(len(segs[w]) for w in ws)
        want[i] = (len(ws), nb, round(nb / len(ws), 4))
    assert got == want


def test_normalize_text_rules(spark):
    """Each normalization rule pinned: control chars → space, curly
    quotes → straight, dashes folded, ellipsis expanded, whitespace
    collapsed and trimmed; already-clean text is a fixed point."""
    from full_docker_etl_spark.operators.text import normalize_text

    rows = [
        (0, "a\x00b\tc\x1fd"),
        (1, "‘quoted’ and “double„"),
        (2, "dash–en dash—em … tail"),
        (3, "  spaced   out  "),
        (4, "already clean"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", normalize_text(F.col("text")).alias("n")
        ).collect()
    }
    assert got[0] == "a b c d"
    assert got[1] == "'quoted' and \"double\""
    assert got[2] == "dash-en dash-em ... tail"
    assert got[3] == "spaced out"
    assert got[4] == "already clean"


def test_normalize_text_idempotent_on_adversarial_strings(spark):
    """normalize(normalize(x)) == normalize(x), and the output never
    contains control chars, curly punctuation, or doubled spaces —
    checked over one batch of adversarial strings mixing every rule's
    trigger characters at boundaries."""
    import itertools
    import re

    from full_docker_etl_spark.operators.text import normalize_text

    pieces = ["", " ", "\t", "\x00", "‘", "”", "–", "—", "…", "a", "b c"]
    rows = [
        (i, "".join(combo))
        for i, combo in enumerate(itertools.product(pieces, repeat=3))
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id",
        normalize_text(F.col("text")).alias("n1"),
        normalize_text(normalize_text(F.col("text"))).alias("n2"),
    ).collect()
    assert len(out) == len(pieces) ** 3
    bad = re.compile(r"[\x00-\x1f\x7f‘’‚“”„–—…]|  |^ | $")
    for r in out:
        assert r.n1 == r.n2, (r.doc_id, r.n1, r.n2)
        assert not bad.search(r.n1), (r.doc_id, repr(r.n1))
