"""Registered queries for the LLM-data-pipeline operators: dedup
(exact / n-gram Jaccard / MinHash-LSH / SimHash / substring-level /
SemDeDup embedding clusters), similarity search (brute-force +
IVF/SQ/PQ/LSH ANN with recall verdicts), text analysis (lang-ID,
quality heuristics, LM perplexity, trained NB classifier, BPE merge
learning, decontamination), domain curation, DSIR selection, and
multimodal metadata — over the ``documents`` / ``embeddings``
testdata tables.

MinHash/SimHash/LSH use engine-internal hash functions (xxhash64), so
they register rows-only checks; everything else is oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_docker_etl_spark.operators import text as tx
from full_docker_etl_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    natural_key_dedup,
    simhash_pairs,
)
from full_docker_etl_spark.operators.multimodal import (
    decode_binary_meta,
    documents_as_binary,
)
from full_docker_etl_spark.operators.similarity import (
    cosine_pairs_lsh,
    cosine_topk,
    hyperplane_lsh_topk,
    ivf_topk,
)
from full_docker_etl_spark.registry import query
from full_docker_etl_spark.sources.catalog import load_table


_EMAIL_PAT, _IP_PAT, _PHONE_PAT = (p for _, p, _ in tx.PII_PATTERNS)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# ------------------------------------------------------------- dedup


@query(
    "dedup_exact",
    oracle="""
      SELECT sha256(text) AS content_sha,
             MIN(doc_id) AS canonical_id,
             COUNT(*) AS n_copies
      FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content hash → group → canonical min-id. One
    shuffle on 64-byte keys, never on document bodies."""
    return exact_dedup(_docs(spark, sf_dir), "text", "doc_id")


def _blocked_counts_cte(rel: str, max_df: int = 1000) -> str:
    """The set-overlap oracle family's SHARED CTE prefix (mirror of
    operators/dedup._blocked_shared_counts): per candidate pair the
    shared distinct-shingle count + both docs' set sizes over relation
    ``rel`` (must expose doc_id, text). Jaccard and containment
    oracles append only their measure-specific SELECT — one copy of
    the shingle/blocking SQL, so a tokenization fix can never
    desynchronize the two. ``max_df`` is the posting-list cap (the
    engine default 1000; the df-store verdict lowers it so the cap is
    ACTIVE on its judge slice)."""
    return f"""
      WITH t AS (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM {rel}),
      sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
             FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-4, 0))) AS i) g),
      rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {max_df}),
      shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY doc_id),
      shared AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
                 FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)"""


def _jaccard_pairs_sql(rel: str, max_df: int = 1000) -> str:
    """DuckDB SQL for 5-gram Jaccard ≥0.8 pairs over relation ``rel``
    — shared by the standalone pair query, the end-to-end dedup
    pipeline oracle, and the CC/recall oracles. ``max_df`` lowers the
    posting-list cap for the cap-active df-store verdicts."""
    return _blocked_counts_cte(rel, max_df) + """
      SELECT d1, d2, shared, s1.n AS n1, s2.n AS n2,
             CAST(shared AS DOUBLE) / (s1.n + s2.n - shared) AS jaccard
      FROM shared JOIN sizes s1 ON d1 = s1.doc_id
                  JOIN sizes s2 ON d2 = s2.doc_id
      WHERE CAST(shared AS DOUBLE) / (s1.n + s2.n - shared) >= 0.8
    """


def _containment_pairs_sql(rel: str) -> str:
    """DuckDB SQL for ≥0.9 asymmetric containment pairs over ``rel``
    — the same blocked-counts prefix with the containment tail."""
    return _blocked_counts_cte(rel) + """
      SELECT d1, d2, shared, s1.n AS n1, s2.n AS n2,
             CAST(shared AS DOUBLE) / s1.n AS c1,
             CAST(shared AS DOUBLE) / s2.n AS c2
      FROM shared JOIN sizes s1 ON d1 = s1.doc_id
                  JOIN sizes s2 ON d2 = s2.doc_id
      WHERE greatest(CAST(shared AS DOUBLE) / s1.n,
                     CAST(shared AS DOUBLE) / s2.n) >= 0.9
    """


@query("dedup_jaccard", oracle=_jaccard_pairs_sql("documents"))
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 5-gram Jaccard ≥ 0.8, blocked by shared
    rare shingles (posting-list cap bounds the join fan-out — no
    all-pairs comparison at any scale)."""
    return jaccard_pairs(
        _docs(spark, sf_dir), "text", "doc_id", n=5, threshold=0.8, max_df=1000
    )


@query(
    "dedup_containment",
    oracle=_containment_pairs_sql("documents"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment near-dup pairs (Broder): either doc's
    5-gram set ≥90% contained in the other's — the quotation /
    aggregator-page duplication mode that symmetric Jaccard
    structurally misses (a short doc inside a long one has Jaccard
    ≈ |short|/|long|). Same rare-shingle blocking, in-row 64-bit
    hashing, and posting-list cap as dedup_jaccard."""
    from full_docker_etl_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _docs(spark, sf_dir), "text", "doc_id",
        n=5, threshold=0.9, max_df=1000,
    )


@query(
    "profile_source_overlap",
    oracle="""
      WITH t AS (SELECT source,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents),
      sh AS (SELECT DISTINCT source,
                    array_to_string(toks[i:i+4], ' ') AS shingle
             FROM t, LATERAL (SELECT unnest(generate_series(1,
                      greatest(len(toks)-4, 0))) AS i) g),
      rare AS (SELECT shingle FROM sh GROUP BY shingle
               HAVING COUNT(*) <= 16),
      shr AS (SELECT sh.source, sh.shingle FROM sh JOIN rare
              USING (shingle)),
      sizes AS (SELECT source, COUNT(*) AS n FROM shr GROUP BY source),
      shared AS (SELECT a.source AS s1, b.source AS s2,
                        COUNT(*) AS shared
                 FROM shr a JOIN shr b
                   ON a.shingle = b.shingle AND a.source < b.source
                 GROUP BY 1, 2)
      SELECT s1, s2, CAST(shared AS BIGINT) AS shared,
             CAST(z1.n AS BIGINT) AS n1, CAST(z2.n AS BIGINT) AS n2,
             CAST(shared AS DOUBLE) / (z1.n + z2.n - shared) AS jaccard
      FROM shared JOIN sizes z1 ON s1 = z1.source
                  JOIN sizes z2 ON s2 = z2.source
    """,
)
def profile_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source 5-gram overlap matrix (shared-shingle count +
    Jaccard per source pair over the discriminative shingle set) — the
    corpus-governance report behind re-crawl detection and
    cross-source contamination audits. Shingles hash to 64-bit inside
    the source row; the self-join fan-out is bounded per shingle by
    the source-granularity posting cap and overall by |sources|² — a
    dimension, not the corpus."""
    from full_docker_etl_spark.operators.dedup import source_overlap

    return source_overlap(
        _docs(spark, sf_dir), "text", "source", n=5, max_source_df=16,
    )


@query(
    "text_substring_dedup",
    oracle="""
      WITH t AS (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents),
      sh AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+4], ' ') AS s
             FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-4)) AS i) g),
      rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      shr AS (SELECT sh.doc_id, sh.pos, sh.s FROM sh JOIN rare USING (s)),
      m AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2
            FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id),
      runs AS (SELECT d1, d2, p2 - p1 AS diag, p1, p2,
                      p1 - ROW_NUMBER() OVER
                        (PARTITION BY d1, d2, p2 - p1 ORDER BY p1) AS grp
               FROM m),
      spans AS (SELECT d1, d2, MIN(p1) AS d1_pos, MIN(p2) AS d2_pos,
                       COUNT(*) + 4 AS span_tokens
                FROM runs GROUP BY d1, d2, diag, grp)
      SELECT d1, d2, d1_pos, d2_pos, span_tokens
      FROM spans WHERE span_tokens >= 20
    """,
)
def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring report (Lee et al. 2022 shape):
    maximal runs of ≥20 tokens shared verbatim between document pairs,
    found via positional 5-gram fingerprints + the diagonal-islands
    collapse — the substring-level dedup modality the pair/Jaccard
    tiers can't see (they score whole documents; this pinpoints the
    copied PASSAGE and its offsets in both docs). Posting cap 1000
    bounds the fingerprint self-join fan-out (SCALE.md)."""
    from full_docker_etl_spark.operators.dedup import substring_spans

    return substring_spans(
        _docs(spark, sf_dir), "text", "doc_id", n=5, min_tokens=20,
        max_occ=1000,
    )


@query(
    "text_substring_dedup_apply",
    oracle="""
      WITH t AS (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents),
      sh AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+4], ' ') AS s
             FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-4)) AS i) g),
      rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      shr AS (SELECT sh.doc_id, sh.pos, sh.s FROM sh JOIN rare USING (s)),
      m AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2
            FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id),
      runs AS (SELECT d1, d2, p2 - p1 AS diag, p1, p2,
                      p1 - ROW_NUMBER() OVER
                        (PARTITION BY d1, d2, p2 - p1 ORDER BY p1) AS grp
               FROM m),
      spans AS (SELECT d1, d2, MIN(p2) AS d2_pos, COUNT(*) + 4 AS span_tokens
                FROM runs GROUP BY d1, d2, diag, grp
                HAVING COUNT(*) + 4 >= 20),
      iv AS (SELECT d2 AS did, d2_pos AS s, d2_pos + span_tokens AS e
             FROM spans),
      iv2 AS (SELECT did, s, e,
                     COALESCE(MAX(e) OVER (PARTITION BY did ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       -1) AS pmax
              FROM iv),
      isl AS (SELECT did, s, e,
                     SUM(CASE WHEN pmax < s THEN 1 ELSE 0 END) OVER
                       (PARTITION BY did ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
              FROM iv2),
      mrg AS (SELECT did, g, MIN(s) AS s, MAX(e) AS e FROM isl
              GROUP BY did, g),
      tk AS (SELECT doc_id,
                    generate_subscripts(toks, 1) - 1 AS pos,
                    unnest(toks) AS tok
             FROM t WHERE doc_id IN (SELECT did FROM mrg)),
      kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk
               WHERE NOT EXISTS (SELECT 1 FROM mrg
                                 WHERE mrg.did = tk.doc_id
                                   AND tk.pos >= mrg.s AND tk.pos < mrg.e)),
      counts AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tk GROUP BY doc_id),
      keptagg AS (SELECT doc_id, COUNT(*) AS n_kept,
                         STRING_AGG(tok, ' ' ORDER BY pos) AS clean_text
                  FROM kept GROUP BY doc_id)
      SELECT c.doc_id, c.n_tokens,
             c.n_tokens - COALESCE(k.n_kept, 0) AS n_removed,
             COALESCE(k.clean_text, '') AS clean_text
      FROM counts c LEFT JOIN keptagg k USING (doc_id)
    """,
)
def text_substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring dedup APPLIED (Lee et al. 2022's output): every
    ≥20-token duplicated span is cut from the non-canonical (higher
    doc_id) document — overlapping spans merged per doc, the token
    drop a per-row higher-order filter against the doc's own merged
    interval array. Returns only the affected docs with before/removed
    token counts and the cleaned text, value-checked to the byte."""
    from full_docker_etl_spark.operators.dedup import substring_dedup_apply

    return substring_dedup_apply(
        _docs(spark, sf_dir), "text", "doc_id", n=5, min_tokens=20,
        max_occ=1000,
    )


@query(
    "sample_leakage_safe_split",
    oracle="""
      WITH RECURSIVE t AS (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents),
      sh AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+4], ' ') AS s
             FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-4)) AS i) g),
      rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      shr AS (SELECT sh.doc_id, sh.pos, sh.s FROM sh JOIN rare USING (s)),
      m AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2
            FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id),
      runs AS (SELECT d1, d2, p2 - p1 AS diag, p1,
                      p1 - ROW_NUMBER() OVER
                        (PARTITION BY d1, d2, p2 - p1 ORDER BY p1) AS grp
               FROM m),
      pairs AS (SELECT d1, d2 FROM runs
                GROUP BY d1, d2, diag, grp
                HAVING COUNT(*) + 4 >= 20),
      sym AS (SELECT DISTINCT d1 AS src, d2 AS dst FROM pairs
              UNION
              SELECT DISTINCT d2, d1 FROM pairs),
      reach(node, r) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, w.r FROM sym s JOIN reach w ON s.dst = w.node
      ),
      comp AS (SELECT node, MIN(r) AS cluster FROM reach GROUP BY node)
      SELECT d.doc_id,
             COALESCE(c.cluster, d.doc_id) AS cluster,
             CASE WHEN substr(md5(CAST(COALESCE(c.cluster, d.doc_id)
                                       AS VARCHAR)), 1, 1) <= 'b'
                    THEN 'train'
                  WHEN substr(md5(CAST(COALESCE(c.cluster, d.doc_id)
                                       AS VARCHAR)), 1, 1) IN ('c','d')
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def sample_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: documents connected by a
    shared ≥20-token verbatim passage (transitively — the substring
    pair graph's connected components) are assigned to the SAME split,
    keyed by the component's min doc id, so a duplicated passage can
    never sit in train and eval at once — the contamination mode plain
    per-doc hash splitting (``sample_hash_split``) cannot prevent.
    Singleton docs key by their own id; the split rule is the same
    md5-hex-prefix 75/12.5/12.5 as the per-doc splitter, applied to
    the cluster key."""
    from full_docker_etl_spark.operators.sampling import leakage_safe_split

    return leakage_safe_split(
        _docs(spark, sf_dir), "text", "doc_id", n=5, min_tokens=20,
        max_occ=1000,
    ).select("doc_id", "cluster", "split")


@query(
    "text_substring_incremental",
    oracle="""
      WITH t AS (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents),
      sh AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+4], ' ') AS s
             FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-4)) AS i) g),
      rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      shr AS (SELECT sh.doc_id, sh.pos, sh.s FROM sh JOIN rare USING (s)),
      m AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2
            FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id),
      runs AS (SELECT d1, d2, p2 - p1 AS diag, p1, p2,
                      p1 - ROW_NUMBER() OVER
                        (PARTITION BY d1, d2, p2 - p1 ORDER BY p1) AS grp
               FROM m),
      spans AS (SELECT d1, d2, MIN(p1) AS d1_pos, MIN(p2) AS d2_pos,
                       COUNT(*) + 4 AS span_tokens
                FROM runs GROUP BY d1, d2, diag, grp)
      SELECT d1, d2, d1_pos, d2_pos, span_tokens
      FROM spans
      WHERE span_tokens >= 20 AND (d1 % 5 = 0 OR d2 % 5 = 0)
    """,
)
def text_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL substring dedup at serving shape: the corpus's
    positional fingerprints live in a persisted store
    (``substring_store_build``/``append`` — an additive occurrence log
    keeps the corpus-wide posting cap exact as batches land), and each
    arriving batch probes batch×store + batch×batch only — store×store
    runs are NEVER regenerated. Here the store is built from 3/5 of
    the corpus, another 1/5 is APPENDED (exercising the log-merge
    path), and the final 1/5 probes; the oracle recomputes the
    from-scratch full-corpus spans restricted to batch-touching pairs,
    so the driver value-checks that incremental ≡ rebuild span for
    span — offsets, lengths, cap effects and all."""
    import tempfile

    from full_docker_etl_spark.operators.dedup import (
        substring_probe_store,
        substring_store_append,
        substring_store_build,
    )

    docs = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="fde_ssd_store_") + "/s"
    substring_store_build(
        docs.where("doc_id % 5 IN (1, 2, 3)"), path, "text", "doc_id",
        n=5, max_occ=1000,
    )
    substring_store_append(
        docs.where("doc_id % 5 = 4"), path, "text", "doc_id"
    )
    return substring_probe_store(
        docs.where("doc_id % 5 = 0"), path, "text", "doc_id",
        n=5, min_tokens=20, max_occ=1000,
    )


@query(
    "text_lm_perplexity",
    oracle="""
      WITH t AS (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents),
      bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
             FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1)) AS i) g),
      c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT w) AS v
            FROM (SELECT unnest(toks) AS w FROM t)),
      s AS (SELECT bg.doc_id,
                   -log2((c12.c12 + 0.5) / (c1.c1 + 0.5 * v.v)) AS nll
            FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
      SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(nll), 4) AS xent
      FROM s GROUP BY doc_id
    """,
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality scoring (the CCNet/Gopher KenLM-stage
    shape, relational): per-doc mean −log2 bigram probability under an
    add-0.5-smoothed bigram model trained on the corpus itself —
    perplexity = 2^xent. Completes the quality-filter triad beside the
    heuristic features (text_quality) and the compression-ratio signal
    (text_compression): this one scores LINGUISTIC typicality. The
    oracle recomputes the same counts, smoothing, and mean in SQL, so
    the driver value-checks every doc's score."""
    from full_docker_etl_spark.operators.text import bigram_cross_entropy

    return bigram_cross_entropy(_docs(spark, sf_dir), "text", "doc_id")


def _bpe_round_sql(n: int) -> str:
    """One unrolled BPE merge round as DuckDB CTEs: pair counts over
    the word-TYPE table r{n-1}, deterministic argmax, and the greedy
    left-to-right application expressed positionally — match
    positions, gaps-and-islands run grouping, keep every other match
    within a run (overlapping matches share a symbol; greedy takes the
    first), drop symbols consumed by a kept merge at i-1, rebuild the
    symbol list ordered by position."""
    p = n - 1
    return f"""
      pr{n} AS (SELECT syms[i] AS l, syms[i+1] AS r, SUM(freq) AS c
             FROM r{p}, LATERAL (SELECT unnest(generate_series(
                                   1, len(syms) - 1)) AS i) g
             GROUP BY 1, 2),
      best{n} AS (SELECT l, r, c FROM pr{n} ORDER BY c DESC, l, r LIMIT 1),
      pos{n} AS (SELECT w, freq, syms,
                    unnest(generate_series(1, len(syms))) AS i
             FROM r{p}),
      m{n} AS (SELECT p.w, p.i,
                  ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.i) AS rn
           FROM pos{n} p JOIN best{n} b
             ON p.i < len(p.syms) AND p.syms[p.i] = b.l
                AND p.syms[p.i+1] = b.r),
      kept{n} AS (SELECT w, i FROM (
                SELECT w, i, ROW_NUMBER() OVER (
                    PARTITION BY w, i - rn ORDER BY i) AS kk
                FROM m{n}) t
              WHERE kk % 2 = 1),
      r{n} AS (SELECT p.w, ANY_VALUE(p.freq) AS freq,
                  list(CASE WHEN k1.i IS NOT NULL
                            THEN p.syms[p.i] || p.syms[p.i+1]
                            ELSE p.syms[p.i] END ORDER BY p.i) AS syms
           FROM pos{n} p
           LEFT JOIN kept{n} k1 ON k1.w = p.w AND k1.i = p.i
           LEFT JOIN kept{n} k2 ON k2.w = p.w AND k2.i = p.i - 1
           WHERE k2.i IS NULL
           GROUP BY p.w)"""


_BPE_K = 3

_BPE_ORACLE = (
    """
      WITH r0 AS (
        SELECT w, COUNT(*) AS freq,
               regexp_split_to_array(w, '')[1:len(w)-1]
                 || [regexp_split_to_array(w, '')[-1] || '</w>'] AS syms
        FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
              FROM documents WHERE text IS NOT NULL)
        WHERE len(w) > 0 GROUP BY w),"""
    + ",".join(_bpe_round_sql(n) for n in range(1, _BPE_K + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f"""      SELECT {n} AS round, l AS "left", r AS "right",
             l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM best{n}"""
        for n in range(1, _BPE_K + 1)
    )
)


_BPE_TOKENIZE_ORACLE = (
    """
      WITH r0 AS (
        SELECT w, COUNT(*) AS freq,
               regexp_split_to_array(w, '')[1:len(w)-1]
                 || [regexp_split_to_array(w, '')[-1] || '</w>'] AS syms
        FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
              FROM documents WHERE text IS NOT NULL)
        WHERE len(w) > 0 GROUP BY w),"""
    + ",".join(_bpe_round_sql(n) for n in range(1, _BPE_K + 1))
    + f""",
      w2 AS (SELECT doc_id,
                    unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
             FROM documents WHERE text IS NOT NULL),
      w3 AS (SELECT doc_id, w FROM w2 WHERE len(w) > 0),
      j AS (SELECT w3.doc_id, len(r{_BPE_K}.syms) AS n
            FROM w3 JOIN r{_BPE_K} ON r{_BPE_K}.w = w3.w)
      SELECT doc_id, COUNT(*) AS n_words,
             CAST(SUM(n) AS BIGINT) AS n_bpe_tokens,
             ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 4) AS bpe_ratio
      FROM j GROUP BY doc_id"""
)


@query("text_bpe_tokenize", oracle=_BPE_TOKENIZE_ORACLE)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the corpus-learned BPE vocabulary (first 3 merges) back
    to every document — the honest per-doc token count under the
    vocab that will actually tokenize the corpus, completing the
    tokenizer-prep pair with text_bpe_merges (learn → apply). The
    oracle re-learns the same merges via the unrolled rounds, joins
    every word occurrence to its segmented type, and value-checks
    each doc's word/BPE-token counts and ratio."""
    from full_docker_etl_spark.operators.text import bpe_tokenize

    return bpe_tokenize(_docs(spark, sf_dir), "text", "doc_id", _BPE_K)


@query("text_bpe_merges", oracle=_BPE_ORACLE)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep: the first 3 BPE merges learned from the corpus
    (Sennrich et al. 2016 — the GPT-2/SentencePiece vocabulary-build
    stage), over the distributed word-type table. The oracle replays
    every round in SQL — pair counts, deterministic argmax, and the
    greedy left-to-right application expressed positionally — so the
    driver value-checks each learned merge AND its corpus frequency,
    which transitively pins the re-segmentation between rounds."""
    from full_docker_etl_spark.operators.text import bpe_merge_table

    return bpe_merge_table(_docs(spark, sf_dir), "text", _BPE_K)


@query(
    "text_normalize",
    oracle="""
      WITH noisy AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 3 = 0
                     THEN chr(8220) || chr(9) || ' '
                          || replace(text, ' ', '  ')
                          || chr(8221) || chr(8230)
                     WHEN doc_id % 3 = 1
                     THEN chr(8216) || text || chr(8217)
                          || chr(8212) || 'end'
                     ELSE text END) AS raw
        FROM documents WHERE text IS NOT NULL),
      n AS (
        SELECT doc_id, raw,
               trim(regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(raw,
                         '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]',
                         ' ', 'g'),
                       '[' || chr(8216) || chr(8217) || chr(8218) || ']',
                       chr(39), 'g'),
                     '[' || chr(8220) || chr(8221) || chr(8222) || ']',
                     chr(34), 'g'),
                   '[' || chr(8211) || chr(8212) || ']', '-', 'g'),
                 '\\s+', ' ', 'g')) AS norm0
        FROM noisy),
      n2 AS (SELECT doc_id, raw,
                    replace(norm0, chr(8230), '...') AS norm
             FROM n)
      SELECT doc_id, norm AS norm_text,
             (norm <> raw) AS changed,
             length(raw) AS n_chars_raw,
             length(norm) AS n_chars_norm
      FROM n2
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (the CCNet/C4 cleanup pass) over a corpus
    with DETERMINISTIC noise injected per doc_id — curly quotes, tabs,
    doubled spaces, em-dashes, ellipses — because the synthetic texts
    are already clean and a no-op normalization would test nothing.
    The oracle rebuilds the same noise and the same rule chain (quote
    and dash folding, control-char strip, whitespace collapse, trim),
    so the driver value-checks every normalized string to the byte.
    Mirrors operators/text.py:normalize_text rule for rule (the
    ellipsis fold rides a plain replace in SQL — DuckDB's RE2 has no
    single-codepoint issue, the split just keeps the regex chains
    identical)."""
    from full_docker_etl_spark.operators.text import normalize_text

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    noisy = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("“\t "),
                F.regexp_replace(F.col("text"), " ", "  "),
                F.lit("”…"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("‘"), F.col("text"),
                F.lit("’—end"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("raw"),
    )
    return noisy.select(
        "doc_id",
        normalize_text(F.col("raw")).alias("norm_text"),
        (normalize_text(F.col("raw")) != F.col("raw")).alias("changed"),
        F.length("raw").alias("n_chars_raw"),
        F.length(normalize_text(F.col("raw"))).alias("n_chars_norm"),
    )


@query(
    "text_quality_classifier",
    oracle="""
      WITH t AS (SELECT doc_id,
                        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents WHERE text IS NOT NULL),
      tok AS (SELECT * FROM (SELECT doc_id, y, unnest(toks) AS w FROM t)
              WHERE len(w) > 0),
      cw AS (SELECT w, SUM(y) AS c_pos, COUNT(*) - SUM(y) AS c_neg
             FROM tok GROUP BY w),
      tots AS (SELECT SUM(y) AS tot_pos, COUNT(*) - SUM(y) AS tot_neg,
                      COUNT(DISTINCT w) AS v
               FROM tok),
      prior AS (SELECT ln((SUM(y) + 1.0) / (COUNT(*) - SUM(y) + 1.0)) AS lp
                FROM t),
      odds AS (SELECT w,
                      ln((c_pos + 1.0) / (tot_pos + v))
                        - ln((c_neg + 1.0) / (tot_neg + v)) AS lo
               FROM cw CROSS JOIN tots)
      SELECT tok.doc_id,
             COUNT(*) AS n_tokens,
             ROUND(SUM(lo) + ANY_VALUE(lp), 4) AS log_odds,
             ROUND(SUM(lo) + ANY_VALUE(lp), 4) > 0 AS pred_pos
      FROM tok JOIN odds USING (w) CROSS JOIN prior
      GROUP BY tok.doc_id
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality-classifier stage (fastText/CCNet target-domain
    filter; GPT-3's WebText-vs-CommonCrawl classifier shape) as its
    closed-form relational equivalent: add-1 multinomial Naive Bayes
    over whitespace tokens, seeded with lang='en' as the target
    domain (CCNet seeds with Wikipedia the same way). Completes the
    quality stack's fourth leg: heuristic features (text_quality),
    compression signal (text_compression), LM perplexity
    (text_lm_perplexity), and now a TRAINED discriminative score.
    The oracle retrains the identical model in SQL, so the driver
    value-checks every doc's log-odds and boundary decision."""
    from full_docker_etl_spark.operators.text import nb_quality_classifier

    docs = _docs(spark, sf_dir).withColumn(
        "y", (F.col("lang") == "en").cast("int")
    )
    return nb_quality_classifier(docs, "text", "doc_id", "y")


@query("dedup_minhash")
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=32)+LSH(8 bands×4 rows) candidate pairs with estimated
    Jaccard ≥ 0.5. Rows-only check (xxhash64 is engine-internal);
    recall vs the exact-Jaccard tier is asserted in tests/test_llm.py."""
    return minhash_lsh_pairs(
        _docs(spark, sf_dir), "text", "doc_id", n=5, k=32, bands=8, threshold=0.5
    )


_MINHASH_SLICE_SQL = """(
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           CAST(('0x' || substr(md5(array_to_string(
                  regexp_split_to_array(trim(text), '\\s+')[1:5], ' ')), 1, 8))
                AS BIGINT) AS prefix_bucket
    FROM documents WHERE text IS NOT NULL
  ) WHERE prefix_bucket %
      (SELECT GREATEST(2, COUNT(*) // 625)
       FROM documents WHERE text IS NOT NULL) = 0
)"""


_JUDGE_SLICE_COUNTS: dict[str, int] = {}


def _judge_slice(docs_all: DataFrame, memo_key: str | None = None) -> DataFrame:
    """The deterministic content-prefix judge slice (Spark mirror of
    ``_MINHASH_SLICE_SQL`` — keep the two in lockstep, the driver
    compares them value-by-value): ~625 docs whose opening-5-token md5
    bucket is 0 mod max(2, n//625). Blocking-aware — near-dup partners
    share their opening 5-gram, so both endpoints survive slicing
    together (pair survival ~1/m, not 1/m²). Shared by every sketch
    verdict that needs an exact-vs-approx judgment bounded at any
    corpus size.

    Two cross-engine traps this mirrors explicitly: NULL text rows are
    EXCLUDED on both sides (Spark's concat_ws would fold a NULL token
    array to '' while SQL propagates NULL — the one place the two
    engines disagree); and the bucket is 8 hex chars (32 bits, ~4B
    buckets), so the modulus never outgrows the bucket range — a
    2-hex bucket silently degenerates past m=256 (~160k docs) and the
    slice starts growing as n/625 again.

    The modulus needs the non-null doc COUNT — an eager scan. It is
    memoized per ``memo_key`` (callers pass ``sf_dir``: the driver
    testdata is immutable, so the count is a property of the dataset,
    not the session) — three verdict queries share the slice, so the
    memo turns three scans per run into one."""
    docs_all = docs_all.where(F.col("text").isNotNull())
    if memo_key is not None and memo_key in _JUDGE_SLICE_COUNTS:
        n_docs = _JUDGE_SLICE_COUNTS[memo_key]
    else:
        n_docs = docs_all.count()
        if memo_key is not None:
            _JUDGE_SLICE_COUNTS[memo_key] = n_docs
    m = max(2, n_docs // 625)
    prefix = F.concat_ws(
        " ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 5)
    )
    bucket = F.conv(F.substring(F.md5(prefix), 1, 8), 16, 10).cast("long")
    # The slice is MATERIALIZED once per call (spread + eager
    # localCheckpoint, ~625 rows): every consumer query fans it into
    # several subtrees (store build/append, probe, exact tier, token
    # projections), and without the cut each subtree re-runs the
    # corpus scan + md5-bucket filter — at 100 TB that is N corpus
    # scans for one query. The spread matters independently: a
    # single-row-group documents file arrives as ONE scan partition,
    # so every downstream per-row stage (shingling, 32-hash minhash
    # folds, verification) would run on one core; checkpointing the
    # spread frame pins the parallel layout for all consumers.
    # Per-invocation only — the bench/suite sweeps persisted RDDs
    # between queries, so nothing survives a query's own run.
    from full_docker_etl_spark.operators.util import fresh_checkpoint, spread

    return fresh_checkpoint(spread(docs_all.where(bucket % m == 0)))


@query(
    "dedup_minhash_recall",
    oracle=f"""
      WITH pairs AS (
        {_jaccard_pairs_sql(_MINHASH_SLICE_SQL)}
      )
      SELECT COUNT(*) AS n_exact, TRUE AS recall_ok FROM pairs
    """,
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash tier's recall bound as an externally-checked VERDICT
    row: count the exact-Jaccard ≥0.8 pairs (the oracle recomputes
    that count — portable), then assert ≥90% of them were also caught
    by MinHash+LSH banding. The oracle expects recall_ok=TRUE, so a
    sketch regression (bad seeding, banding bug) flips the boolean and
    fails the driver's hash compare — upgrading the recall pin from
    test-only to driver-checked evidence.

    Runs on a DETERMINISTIC slice sized FROM the corpus (the judged
    set stays ~625 docs as the corpus grows: modulus = max(2,
    n//625)), and sliced by a CONTENT-PREFIX bucket — md5 of the
    first 5 tokens — not by doc_id: near-dup partners almost always
    share their opening 5-gram, so both endpoints land in the same
    bucket and pair survival scales ~1/m, where an independent id
    slice loses pairs quadratically (1/m²) and goes empty exactly when
    the corpus gets big enough to need slicing. A pair that differs in
    its first 5 tokens merely drops out of the judged set (both tiers
    see the same slice) — never a false failure. The 8-hex-char bucket
    (32 bits) keeps the modulus inside the bucket range at any
    realistic corpus size (see _judge_slice). This is how you audit a
    sketch at 100 TB: exact-vs-approx on a blocking-aware sample."""
    docs = _judge_slice(_docs(spark, sf_dir), memo_key=sf_dir)
    exact = jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.8, max_df=1000
    ).select("d1", "d2")
    approx = minhash_lsh_pairs(
        docs, "text", "doc_id", n=5, k=32, bands=8, threshold=0.5
    ).select("d1", "d2", F.lit(1).alias("_hit"))
    return (
        exact.join(approx, ["d1", "d2"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_hit").alias("n_found"),
        )
        .select(
            "n_exact",
            (F.col("n_found") >= F.lit(0.9) * F.col("n_exact")).alias(
                "recall_ok"
            ),
        )
    )


@query("dedup_containment_lsh")
def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH Ensemble sketch tier for containment dedup (size-partitioned
    MinHash LSH with per-partition band tuning — Zhu et al., VLDB 2016):
    the sub-quadratic candidate generator for dedup_containment that
    does NOT lean on the exact tier's global document-frequency pass.
    Candidates come only from size-partition bucket collisions and are
    verified exactly (precision 1.0); rows-only check (xxhash64 is
    engine-internal) — candidate-generation recall is the
    oracle-checked dedup_containment_lsh_recall verdict row."""
    from full_docker_etl_spark.operators.dedup import containment_lsh_pairs

    return containment_lsh_pairs(
        _docs(spark, sf_dir), "text", "doc_id", n=5, k=32, threshold=0.9,
    )


def _quotation_corpus(docs: DataFrame) -> DataFrame:
    """Judge corpus for the containment-sketch verdict: the
    deterministic judge slice PLUS planted quotation pairs — one
    synthetic aggregator page per doc_id%211 residue, concatenating
    (space-joined, doc_id order) the residue's first two 40-400-token
    slice docs, under doc_id -(residue+1). Every member is 100%
    contained in its aggregator (containment 1.0, Jaccard ≈ size
    ratio⁻¹ — exactly the modality Jaccard-tuned LSH misses). The
    member band is BOTH floored and CEILED because the planted pair's
    size ratio is driven by the CO-member: with member shingle sizes
    in [36, 396], aggregator/member ≤ (36+396+4)/36 ≈ 12.1 < 16 — a
    PROOF the planted pairs sit inside the ensemble's covered gaps
    (≤3 at the defaults) at ANY scale factor and document-length
    distribution; a floor alone would let one huge co-member push a
    planted pair past the sketch's documented ratio cutoff and flake
    the hash-checked recall verdict on correct code. The construction
    is pure SQL so the DuckDB oracle rebuilds it verbatim. The
    partitioned window (partitionBy residue) keeps the plan on hash
    partitioning — no global sort."""
    from pyspark.sql import Window

    slim = docs.select("doc_id", "text")
    members = (
        slim.where(
            F.size(F.split(F.trim("text"), r"\s+")).between(40, 400)
        )
        .withColumn("g", F.col("doc_id") % 211)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("g").orderBy("doc_id")
            ),
        )
        .where(F.col("rn") <= 2)
    )
    agg = (
        members.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("_m"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("doc_id"), F.col("text")))
                    ),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("text"),
        )
        .where(F.col("_m") == 2)
        .select((-(F.col("g") + 1)).cast("long").alias("doc_id"), "text")
    )
    # Materialized once per call (the _judge_slice convention): both
    # containment verdicts fan this corpus into several consumers
    # (store build/append, probe, exact tier), and without the cut
    # each one re-runs the window + aggregator construction.
    from full_docker_etl_spark.operators.util import fresh_checkpoint

    return fresh_checkpoint(slim.unionByName(agg))


_QUOTATION_CORPUS_SQL = f"""(
  WITH jslice AS (SELECT doc_id, text FROM {_MINHASH_SLICE_SQL}),
  qgrp AS (SELECT doc_id, text, doc_id % 211 AS g,
                  ROW_NUMBER() OVER (PARTITION BY doc_id % 211
                                     ORDER BY doc_id) AS rn
           FROM jslice
           WHERE len(regexp_split_to_array(trim(text), '\\s+'))
                 BETWEEN 40 AND 400),
  qagg AS (SELECT -(g+1) AS doc_id,
                  string_agg(text, ' ' ORDER BY doc_id) AS text
           FROM qgrp WHERE rn <= 2 GROUP BY g HAVING COUNT(*) = 2)
  SELECT doc_id, text FROM jslice
  UNION ALL SELECT doc_id, text FROM qagg
)"""


@query(
    "dedup_containment_lsh_recall",
    oracle=f"""
      WITH pairs AS (
        {_containment_pairs_sql(_QUOTATION_CORPUS_SQL)}
      )
      SELECT COUNT(*) AS n_exact, TRUE AS recall_ok FROM pairs
    """,
)
def dedup_containment_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment sketch tier's recall bound as an externally
    checked VERDICT row (the dedup_minhash_recall pattern): on the
    judge slice plus PLANTED quotation pairs (short docs concatenated
    into synthetic aggregator pages — containment 1.0, low Jaccard),
    count the exact ≥0.9 containment pairs (the oracle recomputes that
    count portably) and assert ≥80% of them are also produced by the
    LSH Ensemble tier. A sketch regression — wrong per-partition band
    tuning, broken size partitioning, a probe that stops short — flips
    recall_ok and fails the driver's hash compare. Planting is what
    makes the verdict non-vacuous at every scale factor: natural
    containment pairs in a thin judge slice can be scarce, but the
    planted aggregators guarantee a dense, known-answer positive set
    whose size ratios sit inside the ensemble's covered gaps."""
    corpus = _quotation_corpus(_judge_slice(_docs(spark, sf_dir), memo_key=sf_dir))
    from full_docker_etl_spark.operators.dedup import (
        containment_lsh_pairs,
        containment_pairs,
    )

    exact = containment_pairs(
        corpus, "text", "doc_id", n=5, threshold=0.9, max_df=1000
    ).select("d1", "d2")
    approx = containment_lsh_pairs(
        corpus, "text", "doc_id", n=5, k=32, threshold=0.9
    ).select("d1", "d2", F.lit(1).alias("_hit"))
    return (
        exact.join(approx, ["d1", "d2"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_hit").alias("n_found"),
        )
        .select(
            "n_exact",
            (F.col("n_found") >= F.lit(0.8) * F.col("n_exact")).alias(
                "recall_ok"
            ),
        )
    )


def _probe_hits(cand: DataFrame) -> DataFrame:
    """A store probe's candidates as distinct ``d1 < d2`` pairs flagged
    ``_hit``, checkpointed: the found set of the recall composites."""
    from full_docker_etl_spark.operators.util import fresh_checkpoint

    return fresh_checkpoint(
        cand.select(
            F.least("d1", "d2").alias("d1"),
            F.greatest("d1", "d2").alias("d2"),
            F.lit(1).alias("_hit"),
        ).distinct()
    )


def _batch_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """The exact-Jaccard ≥0.8 pairs touching the 10% batch,
    checkpointed: the exact tier of the MinHash recall composites."""
    from full_docker_etl_spark.operators.util import fresh_checkpoint

    return fresh_checkpoint(
        jaccard_pairs(docs, "text", "doc_id", n=5, threshold=0.8, max_df=1000)
        .where((F.col("d1") % 10 == 0) | (F.col("d2") % 10 == 0))
        .select("d1", "d2")
    )


@query(
    "dedup_containment_incremental_recall",
    oracle=f"""
      WITH pairs AS (
        {_containment_pairs_sql(_QUOTATION_CORPUS_SQL)}
      )
      SELECT COUNT(*) AS n_exact, TRUE AS recall_ok
      FROM pairs WHERE d1 % 10 = 0 OR d2 % 10 = 0
    """,
)
def dedup_containment_incremental_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL containment dedup at serving shape, driver-checked
    (the dedup_incremental_recall pattern applied to the asymmetric
    tier): at 100 TB each arriving batch probes a PERSISTED
    LSH-Ensemble store (containment_store_build / _append /
    containment_probe_store — batch×store and batch×batch candidates
    only, PLUS the store-probes-batch direction containment uniquely
    needs: a stored short doc must still match a NEW long page quoting
    it). The quotation corpus splits 10%-batch / 90%-store, the store
    is built from one half and APPENDED with the other (both write
    paths exercised), the batch probes it, and recall is judged
    against the exact ≥0.9 containment pairs touching the batch —
    whose count the oracle recomputes portably, with the ≥80% floor as
    the hash-checked boolean. A store-format, counts-rollup,
    probe-direction, or gap-tuning regression flips the row red.

    The store chain (build, append, probe) and the exact tier need
    only the corpus, so they run concurrently from two threads (the
    ``dedup_arrival_probe`` shape), each ending in a checkpointed pair
    set; the closing join-agg joins the two checkpoints."""
    import tempfile

    from full_docker_etl_spark.operators.dedup import (
        containment_pairs,
        containment_probe_store,
        containment_store_append,
        containment_store_build,
    )
    from full_docker_etl_spark.operators.util import (
        concurrently,
        fresh_checkpoint,
    )

    corpus = _quotation_corpus(
        _judge_slice(_docs(spark, sf_dir), memo_key=sf_dir)
    )
    batch = corpus.where(F.col("doc_id") % 10 == 0)
    rest = corpus.where(F.col("doc_id") % 10 != 0)
    path = tempfile.mkdtemp(prefix="fde_cstore_") + "/store"

    # Both chains are runs of short jobs separated by driver-side
    # planning gaps, so two threads overlap the latencies (guide
    # §2.6). Each ends in fresh_checkpoint, not persist+count: every
    # subtree executes exactly once, in its checkpoint, and the closing
    # join-agg plans two LogicalRDDs instead of probe ∪ exact as one
    # tree (profiled as a ~1.3 s driver-planning gap).
    def _found():
        containment_store_build(
            rest.where(F.col("doc_id") % 2 != 0), path, "text", "doc_id"
        )
        containment_store_append(
            rest.where(F.col("doc_id") % 2 == 0), path, "text", "doc_id"
        )
        return _probe_hits(
            containment_probe_store(batch, path, "text", "doc_id")
        )

    def _exact():
        return fresh_checkpoint(
            containment_pairs(
                corpus, "text", "doc_id", n=5, threshold=0.9, max_df=1000
            )
            .where((F.col("d1") % 10 == 0) | (F.col("d2") % 10 == 0))
            .select("d1", "d2")
        )

    found, exact = concurrently(_found, _exact)
    return (
        exact.join(found, ["d1", "d2"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_hit").alias("n_found"),
        )
        .select(
            "n_exact",
            (F.col("n_found") >= F.lit(0.8) * F.col("n_exact")).alias(
                "recall_ok"
            ),
        )
    )


@query(
    "dedup_incremental_recall",
    oracle=f"""
      WITH pairs AS (
        {_jaccard_pairs_sql(_MINHASH_SLICE_SQL)}
      )
      SELECT COUNT(*) AS n_exact, TRUE AS recall_ok
      FROM pairs WHERE d1 % 10 = 0 OR d2 % 10 = 0
    """,
)
def dedup_incremental_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup at serving shape, as a driver-checked verdict
    row: at 100 TB you never re-dedup the corpus against itself — each
    arriving batch probes a PERSISTED MinHash sketch store
    (operators/dedup.py minhash_store_build / minhash_probe_store:
    batch×store and batch×batch candidates only, store×store never
    regenerated). Here the judge slice splits 10%-batch / 90%-store,
    the store's signatures and band buckets are built and written to
    parquet, the batch probes them, and recall is judged against the
    exact-Jaccard ≥0.8 pairs touching the batch — whose count the
    oracle recomputes (portable), with the ≥90% floor as the
    hash-checked boolean. A store-format, probe-join, or fold
    regression flips the row red.

    The store chain (build, probe) and the exact tier run concurrently
    from two threads, each ending in a checkpointed pair set — the
    ``dedup_containment_incremental_recall`` shape. Measured in one
    process at local[3]: 14-15% faster than running the two chains one
    after the other, or than planning the exact tier into the closing
    join-agg."""
    import tempfile

    from full_docker_etl_spark.operators.dedup import (
        minhash_probe_store,
        minhash_store_build,
    )
    from full_docker_etl_spark.operators.util import concurrently

    docs = _judge_slice(_docs(spark, sf_dir), memo_key=sf_dir)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    store = docs.where(F.col("doc_id") % 10 != 0)
    path = tempfile.mkdtemp(prefix="fde_mhstore_") + "/store"

    def _found():
        minhash_store_build(store, path, "text", "doc_id")
        return _probe_hits(
            minhash_probe_store(batch, path, "text", "doc_id", threshold=0.5)
        )

    found, exact = concurrently(_found, lambda: _batch_jaccard_pairs(docs))
    return (
        exact.join(found, ["d1", "d2"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_hit").alias("n_found"),
        )
        .select(
            "n_exact",
            (F.col("n_found") >= F.lit(0.9) * F.col("n_exact")).alias(
                "recall_ok"
            ),
        )
    )


@query(
    "dedup_store_maintain",
    oracle=f"""
      WITH pairs AS (
        {_jaccard_pairs_sql(_MINHASH_SLICE_SQL)}
      )
      SELECT COUNT(*) AS n_exact, TRUE AS recall_ok, TRUE AS maintained_ok
      FROM pairs WHERE d1 % 10 = 0 OR d2 % 10 = 0
    """,
)
def dedup_store_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORE MAINTENANCE at serving shape, driver-checked — the
    dedup_incremental_recall loop with the r17 policy pass in the
    middle: the standing 90% lands in a persisted MinHash store as
    THREE batches (build + two appends — the append loop that makes
    per-batch ``batch=`` partitions the small-file problem), then ONE
    ``store_maintain`` call compacts the committed set past
    its budget and vacuums the displaced partitions (grace 0 — no
    probe is in flight here; a production fleet passes its SLA), and
    only THEN does the batch probe. ``maintained_ok`` pins the policy
    outcome (compacted to one committed batch, zero orphans left);
    ``recall_ok`` pins that maintenance changed NOTHING a probe can
    see — recall vs the exact-Jaccard pairs touching the batch holds
    the same ≥90% floor as the un-maintained store, with the oracle
    recomputing the exact count portably. A compaction that dropped
    or duplicated signature rows, a vacuum that deleted a committed
    partition, or a manifest flip that lost an append flips the row
    red.

    The store chain (build, appends, maintain, probe) and the exact
    tier run concurrently from two threads, each ending in a
    checkpointed pair set — the ``dedup_containment_incremental_recall``
    shape. Measured in one process at local[3]: 8-16% faster than
    running the two chains one after the other, or than planning the
    exact tier into the closing join-agg."""
    import tempfile

    from full_docker_etl_spark.operators.dedup import (
        minhash_probe_store,
        minhash_store_append,
        minhash_store_build,
        store_maintain,
    )
    from full_docker_etl_spark.operators.util import concurrently

    docs = _judge_slice(_docs(spark, sf_dir), memo_key=sf_dir)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    store = docs.where(F.col("doc_id") % 10 != 0)
    path = tempfile.mkdtemp(prefix="fde_mhmaint_") + "/store"

    def _found():
        minhash_store_build(
            store.where(F.col("doc_id") % 3 == 0), path, "text", "doc_id"
        )
        for rem in (1, 2):
            minhash_store_append(
                store.where(F.col("doc_id") % 3 == rem),
                path, "text", "doc_id",
            )
        r = store_maintain(
            spark, path, max_batches=1, probe_grace_seconds=0.0
        )
        maintained_ok = (
            r["compacted"]
            and sorted(r["vacuumed"]) == sorted(r["displaced"])
            and r["after"]["committed_batches"] == 1
            and r["after"]["orphan_batches"] == 0
        )
        return maintained_ok, _probe_hits(
            minhash_probe_store(batch, path, "text", "doc_id", threshold=0.5)
        )

    (maintained_ok, found), exact = concurrently(
        _found, lambda: _batch_jaccard_pairs(docs)
    )
    return (
        exact.join(found, ["d1", "d2"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_hit").alias("n_found"),
        )
        .select(
            "n_exact",
            (F.col("n_found") >= F.lit(0.9) * F.col("n_exact")).alias(
                "recall_ok"
            ),
            F.lit(bool(maintained_ok)).alias("maintained_ok"),
        )
    )


# The planted BOILERPLATE cohort for the df-store verdict: 20
# synthetic docs (ids -1..-20, below every real doc_id) sharing a
# 40-token boilerplate prefix and differing only in a 2-token unique
# tail. Every planted-planted pair has RAW 5-gram Jaccard 36/40 = 0.9
# (36 boiler-interior shingles shared, 38 per doc) — 190 false
# "near-dup" pairs under the raw measure — while under the BLOCKED
# measure at max_df=16 the boiler shingles (df = 20 > 16) are dropped
# and each doc keeps only its 2 unique tail shingles: blocked Jaccard
# 0, zero pairs. Token spellings are deliberately unnatural
# (xqboil*/xqtail*) so no 5-gram can collide with corpus text. Pure
# literal construction — the DuckDB oracle rebuilds it verbatim, and
# it is deterministic at every scale factor (the natural corpus'
# shingle df tops out at 4, so no NATURAL cap is active anywhere in
# the testdata; the cohort is what puts the cap genuinely in play).
_DF_BOILER = " ".join(f"xqboil{j}" for j in range(40))
_DF_VERIFY_CORPUS_SQL = f"""(
  SELECT doc_id, text FROM {_MINHASH_SLICE_SQL}
  UNION ALL
  SELECT CAST(-(i + 1) AS BIGINT) AS doc_id,
         '{_DF_BOILER} xqtail' || CAST(i AS VARCHAR) || 'a xqtail'
           || CAST(i AS VARCHAR) || 'b' AS text
  FROM generate_series(0, 19) AS t(i)
)"""


def _df_verify_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of ``_DF_VERIFY_CORPUS_SQL`` (keep in lockstep —
    the driver compares them value-by-value): the deterministic judge
    slice plus the planted boilerplate cohort."""
    planted = spark.range(20).select(
        (-(F.col("id") + 1)).alias("doc_id"),
        F.concat(
            F.lit(_DF_BOILER + " xqtail"),
            F.col("id").cast("string"),
            F.lit("a xqtail"),
            F.col("id").cast("string"),
            F.lit("b"),
        ).alias("text"),
    )
    # Materialized once per call: dedup_df_verify fans this corpus
    # into six consumers (build, two appends, candidate shingles,
    # verify endpoints, exact tier); the planted range is cheap but
    # the union would otherwise replan per consumer.
    from full_docker_etl_spark.operators.util import fresh_checkpoint

    return fresh_checkpoint(
        _judge_slice(_docs(spark, sf_dir), memo_key=sf_dir)
        .select("doc_id", "text")
        .unionByName(planted)
    )


@query(
    "dedup_df_verify",
    oracle=_blocked_counts_cte(_DF_VERIFY_CORPUS_SQL, max_df=16) + """
      SELECT COUNT(*) AS n_pairs, TRUE AS agree_ok,
             TRUE AS no_boiler_merge_ok, TRUE AS maintained_ok
      FROM (SELECT d1, d2
            FROM shared JOIN sizes s1 ON d1 = s1.doc_id
                        JOIN sizes s2 ON d2 = s2.doc_id
            WHERE CAST(shared AS DOUBLE) / (s1.n + s2.n - shared) >= 0.8)
    """,
)
def dedup_df_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FOURTH persisted store family at serving shape,
    driver-checked: the shingle document-frequency store built
    INCREMENTALLY (build + two appends — per-batch additive df
    partials under the shared atomic-manifest discipline), maintained
    by one policy pass (compact past budget + vacuum the displaced
    partials, grace 0), and then SERVED — ``df_store_rare`` yields the
    in-cap shingle frame that makes ``jaccard_verify_pairs``' blocked
    measure exact without a per-batch corpus rescan (the 100 TB answer
    to raw-vs-blocked measure divergence on a cap-active corpus: df is
    additive under the single-admission contract, so the store keeps
    corpus df current while each arrival touches only its own batch).

    Runs on the judge slice PLUS the planted boilerplate cohort (see
    ``_DF_VERIFY_CORPUS_SQL``) with the cap at max_df=16 — ACTIVE
    against the cohort by construction: its 190 planted pairs sit at
    raw Jaccard 0.9 on shared boilerplate alone, and the blocked
    measure must exclude EVERY one (their boiler shingles carry
    df = 20 > 16; the natural corpus' df tops out at 4, so the real
    slice pairs pass through both measures unchanged). ``n_pairs`` is
    the portable external check — the oracle recomputes the cap-active
    blocked-Jaccard ≥0.8 pair count from raw shingle strings in SQL,
    so a df partial that double-counted a retried append, a compaction
    that dropped or duplicated a df row, a vacuum that reclaimed a
    committed partial, or a broken rare filter (boiler falls in-cap →
    +190 pairs) shifts the count and fails the driver's hash compare.
    ``agree_ok`` pins EXACT set equality (both anti-join directions
    empty) between the store-served verification and the one-pass
    ``jaccard_pairs`` truth at the same cap; ``no_boiler_merge_ok``
    pins the headline property by name — no admitted pair joins two
    cohort docs; ``maintained_ok`` pins the policy outcome (compacted
    to one committed batch, zero orphans)."""
    import tempfile

    from full_docker_etl_spark.operators.dedup import (
        _hashed_shingles,
        df_store_append,
        df_store_build,
        df_store_rare,
        jaccard_verify_pairs,
        store_maintain,
    )

    docs = _df_verify_corpus(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="fde_dfstore_") + "/store"
    # pmod, not %: planted ids are negative and Spark's % keeps the
    # dividend's sign — a plain % 3 split would never admit them and
    # silently break the single-admission contract
    df_store_build(
        docs.where(F.pmod("doc_id", F.lit(3)) == 0),
        path, "text", "doc_id", n=5,
    )
    for rem in (1, 2):
        df_store_append(
            docs.where(F.pmod("doc_id", F.lit(3)) == rem),
            path, "text", "doc_id",
        )
    r = store_maintain(
        spark, path, max_batches=1, probe_grace_seconds=0.0
    )
    maintained_ok = (
        r["compacted"]
        and sorted(r["vacuumed"]) == sorted(r["displaced"])
        and r["after"]["committed_batches"] == 1
        and r["after"]["orphan_batches"] == 0
    )
    rare = df_store_rare(spark, path, max_df=16, n=5)
    # Serving-shape candidate generation: block on the STORE-served
    # in-cap shingles (never the full posting list) — the cohort docs
    # share no in-cap shingle, so its 190 raw-similar pairs are never
    # even candidates. Persist the rare-filtered shingle frame — it
    # feeds both self-join sides (the _blocked_shared_counts
    # convention).
    from pyspark import StorageLevel

    sh = (
        _hashed_shingles(docs, "text", "doc_id", 5)
        .join(rare, "sh")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = (
        sh.select(F.col("doc_id").alias("d1"), "sh")
        .join(sh.select(F.col("doc_id").alias("d2"), "sh"), "sh")
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    verified = jaccard_verify_pairs(
        docs, cand, "text", "doc_id", n=5, threshold=0.8, rare=rare
    ).select("d1", "d2", F.lit(1).alias("_s"))
    direct = jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.8, max_df=16
    ).select("d1", "d2", F.lit(1).alias("_e"))
    both = direct.join(verified, ["d1", "d2"], "full_outer")
    return both.agg(
        F.count("_s").alias("n_pairs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_e").isNull() | F.col("_s").isNull(), 1
                ).otherwise(0)
            )
            == 0,
            F.lit(True),  # empty corpus: agreement holds vacuously
        ).alias("agree_ok"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_s").isNotNull()
                    & (F.col("d1") < 0)
                    & (F.col("d2") < 0),
                    1,
                ).otherwise(0)
            )
            == 0,
            F.lit(True),
        ).alias("no_boiler_merge_ok"),
    ).select(
        "n_pairs",
        "agree_ok",
        "no_boiler_merge_ok",
        F.lit(bool(maintained_ok)).alias("maintained_ok"),
    )


# The TWO-EPOCH cohort for the measure-drift verdict: boiler Q
# (40 tokens, xrboil*) across 20 docs (ids -101..-120) arriving in
# two waves of 10. After wave one Q's df is 10 <= 16: IN cap, so the
# 45 wave-one pairs verify at blocked Jaccard 0.9. Wave two lifts Q
# to df 20 > 16: the 36 Q-interior shingles CROSS the cap, the
# measure shrinks, and every Q pair falls to blocked Jaccard 0 —
# stale edges an epoch-aware loop must drop. Natural slice pairs
# carry no crossed shingle (natural df tops out at 4) and must pass
# through revalidation unread. Pure literal construction, rebuilt
# verbatim by the oracle; epoch membership is an id predicate
# (doc_id >= -110), so the SQL can compute per-epoch dfs.
_DF_DRIFT_BOILER = " ".join(f"xrboil{j}" for j in range(40))
_DF_DRIFT_PLANTED_SQL = f"""
  SELECT CAST(-(101 + i) AS BIGINT) AS doc_id,
         '{_DF_DRIFT_BOILER} xrtail' || CAST(i AS VARCHAR) || 'a xrtail'
           || CAST(i AS VARCHAR) || 'b' AS text
  FROM generate_series(0, 19) AS t(i)
"""
_DF_DRIFT_CORPUS2_SQL = f"""(
  SELECT doc_id, text FROM {_MINHASH_SLICE_SQL}
  UNION ALL {_DF_DRIFT_PLANTED_SQL}
)"""
_DF_DRIFT_CORPUS1_SQL = f"""(
  SELECT doc_id, text FROM {_DF_DRIFT_CORPUS2_SQL} WHERE doc_id >= -110
)"""
_DF_DRIFT_CROSSINGS_SQL = f"""
  WITH t AS (SELECT doc_id,
                    regexp_split_to_array(trim(text), '\\s+') AS toks
             FROM {_DF_DRIFT_CORPUS2_SQL}),
  sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
         FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-4, 0))) AS i) g),
  d AS (SELECT shingle, COUNT(*) AS total,
               COUNT(*) FILTER (WHERE doc_id >= -110) AS old
        FROM sh GROUP BY 1)
  SELECT shingle FROM d WHERE total > 16 AND old <= 16
"""


def _df_drift_corpora(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Spark mirror of the drift-cohort SQL (keep in lockstep): the
    natural slice, wave one of the planted cohort, wave two."""
    planted = spark.range(20).select(
        (-(F.col("id") + 101)).alias("doc_id"),
        F.concat(
            F.lit(_DF_DRIFT_BOILER + " xrtail"),
            F.col("id").cast("string"),
            F.lit("a xrtail"),
            F.col("id").cast("string"),
            F.lit("b"),
        ).alias("text"),
    )
    slice_docs = _judge_slice(_docs(spark, sf_dir), memo_key=sf_dir).select(
        "doc_id", "text"
    )
    return (
        slice_docs,
        planted.where(F.col("doc_id") >= -110),
        planted.where(F.col("doc_id") < -110),
    )


@query(
    "dedup_df_revalidate",
    oracle=f"""
      SELECT
        (SELECT COUNT(*) FROM ({_DF_DRIFT_CROSSINGS_SQL})) AS n_crossings,
        (SELECT COUNT(*) FROM (
           {_jaccard_pairs_sql(_DF_DRIFT_CORPUS1_SQL, max_df=16)}
         )) AS n_before,
        (SELECT COUNT(*) FROM (
           {_jaccard_pairs_sql(_DF_DRIFT_CORPUS2_SQL, max_df=16)}
         )) AS n_retained,
        TRUE AS agree_ok
    """,
)
def dedup_df_revalidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE-DRIFT REVALIDATION at serving shape, driver-checked —
    the full epoch loop the blocked measure's cross-epoch caveat
    (jaccard_verify_pairs docstring) demands, composed from the df
    store: epoch 1 builds the store (slice + wave one of the planted
    cohort), serves its in-cap frame, blocks candidates on it and
    verifies the epoch's edge set (45 cohort pairs at blocked 0.9 —
    the boiler df 10 is still IN cap — plus the natural slice pairs);
    epoch 2 admits wave two, `df_store_crossings` enumerates the 36
    boiler-interior shingles the new partial pushed over the cap FROM
    THE STORE'S PARTIALS ALONE (no corpus rescan), and
    `revalidate_pairs` re-verifies only the crossing-touched edges —
    every cohort pair drops (its measure fell to 0 when the boiler
    left the in-cap universe), every natural pair passes through
    unread, and the surviving set must EQUAL the one-shot
    present-measure truth exactly.

    All four columns are externally recomputed: the oracle derives
    the crossing count from raw shingle strings with per-epoch dfs
    (an id predicate selects epoch-1 docs), and the before/after pair
    counts from the two epochs' blocked measures — so a store partial
    that double-counts (crossings appear early), a crossings query
    that misses the latest-batch delta, or a revalidation that reads
    the wrong measure shifts a count; ``agree_ok`` pins exact set
    equality (both anti-join directions) between the revalidated edge
    set and the present-measure truth. This is the 100 TB drift
    answer at query shape: revalidation work scales with the
    crossing-touched edges, never the corpus."""
    import tempfile

    from full_docker_etl_spark.operators.dedup import (
        _hashed_shingles,
        df_store_append,
        df_store_build,
        df_store_crossings,
        df_store_rare,
        jaccard_verify_pairs,
        revalidate_pairs,
    )
    from pyspark import StorageLevel

    from full_docker_etl_spark.operators.util import fresh_checkpoint

    slice_docs, wave1, wave2 = _df_drift_corpora(spark, sf_dir)
    # Each epoch corpus feeds several consumers (store writes, blocked
    # candidate generation, two verify passes, revalidation endpoints);
    # materialize the tiny unions once instead of replanning the
    # slice∪planted subtree per consumer (the _judge_slice convention).
    corpus1 = fresh_checkpoint(slice_docs.unionByName(wave1))
    corpus2 = fresh_checkpoint(corpus1.unionByName(wave2))
    path = tempfile.mkdtemp(prefix="fde_dfdrift_") + "/store"
    df_store_build(slice_docs, path, "text", "doc_id", n=5)
    df_store_append(wave1, path, "text", "doc_id")

    def blocked_pairs(corpus, rare):
        sh = (
            _hashed_shingles(corpus, "text", "doc_id", 5)
            .join(rare, "sh")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cand = (
            sh.select(F.col("doc_id").alias("d1"), "sh")
            .join(sh.select(F.col("doc_id").alias("d2"), "sh"), "sh")
            .where(F.col("d1") < F.col("d2"))
            .select("d1", "d2")
            .distinct()
        )
        return jaccard_verify_pairs(
            corpus, cand, "text", "doc_id", n=5, threshold=0.8, rare=rare
        ).select("d1", "d2")

    # epoch 1: serve + verify this epoch's edges. Each small frame is
    # localCheckpoint'ed — edges/crossings/retained/truth are each
    # consumed by several downstream operators, and without the
    # lineage cut every consumer would re-execute the whole epoch's
    # candidate+verify pipeline (measured: ~8x the runtime).
    rare1 = df_store_rare(spark, path, max_df=16, n=5)
    edges = blocked_pairs(corpus1, rare1).localCheckpoint(eager=True)

    # epoch 2: admit, enumerate crossings from the partials, shrink
    df_store_append(wave2, path, "text", "doc_id")
    crossings = df_store_crossings(
        spark, path, max_df=16, n=5
    ).localCheckpoint(eager=True)
    rare2 = df_store_rare(spark, path, max_df=16, n=5)
    retained = revalidate_pairs(
        corpus2, edges, "text", "doc_id", crossings, rare2,
        n=5, threshold=0.8,
    ).localCheckpoint(eager=True)

    # present-measure truth, served the same way (overlapping this
    # with the revalidation pass in two threads measured a wash —
    # both materializations saturate the same store-read stages)
    truth = blocked_pairs(corpus2, rare2).localCheckpoint(eager=True)
    both = (
        retained.select("d1", "d2", F.lit(1).alias("_r"))
        .join(
            truth.select("d1", "d2", F.lit(1).alias("_t")),
            ["d1", "d2"], "full_outer",
        )
    )
    verdict = both.agg(
        F.count("_r").alias("n_retained"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_r").isNull() | F.col("_t").isNull(), 1
                ).otherwise(0)
            )
            == 0,
            F.lit(True),
        ).alias("agree_ok"),
    ).withColumn("_k", F.lit(1))
    n_cross = crossings.agg(
        F.count(F.lit(1)).alias("n_crossings")
    ).withColumn("_k", F.lit(1))
    n_before = edges.agg(F.count(F.lit(1)).alias("n_before")).withColumn(
        "_k", F.lit(1)
    )
    return (
        n_cross.join(n_before, "_k")
        .join(verdict, "_k")
        .select("n_crossings", "n_before", "n_retained", "agree_ok")
    )


@query("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs at Hamming ≤ 3, candidates from
    Manku-style block-combination buckets. The block count is SIZED
    FROM THE CORPUS (simhash_blocks_for_corpus — key width tracks
    log2|corpus|, so collision noise stays linear at any scale);
    recall is pigeonhole-exact for every dial value, and the guarantee
    itself is driver-checked by dedup_simhash_recall. Rows-only
    check."""
    docs = _docs(spark, sf_dir)
    return simhash_pairs(
        docs, "text", "doc_id", max_hamming=3, corpus_size=docs.count()
    )


@query(
    "dedup_simhash_recall",
    oracle=f"""
      SELECT COUNT(*) AS n_docs, TRUE AS pigeonhole_ok
      FROM {_MINHASH_SLICE_SQL}
    """,
)
def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash tier's PIGEONHOLE GUARANTEE as an externally-checked
    VERDICT row. Unlike the MinHash verdict (a measured floor vs the
    exact-Jaccard tier), SimHash's block-combination blocking makes an
    exact mathematical promise: every pair within Hamming distance
    ``max_hamming`` shares at least one blocking key, so candidate
    recall against TRUE Hamming-≤3 pairs must be exactly 100%. This
    query brute-forces the truth set on the deterministic judge slice
    (~625 docs → ~195k signature pairs, a few KB each — bounded at any
    corpus size, which is why the slice exists) and asserts the
    blocked tier found every one. n_docs is the portable count (the
    oracle recomputes the slice size); a decomposition bug — wrong
    shift, sign-extended block, dropped combination — flips the
    boolean and fails the driver's hash compare. A Jaccard-based floor
    would be wrong here: SimHash approximates cosine on term
    frequencies, and measured recall of Jaccard-0.8 pairs at
    hamming≤3 is only ~0.14 on this corpus — the blocking guarantee,
    not Jaccard recall, is the invariant this tier actually offers."""
    from full_docker_etl_spark.operators.dedup import simhash

    docs = _judge_slice(_docs(spark, sf_dir), memo_key=sf_dir)
    sig = simhash(docs, "text", "doc_id")
    left = sig.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"))
    right = sig.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"))
    truth = (
        left.join(F.broadcast(right), F.col("d1") < F.col("d2"))
        .where(F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))) <= 3)
        .select("d1", "d2")
    )
    found = simhash_pairs(docs, "text", "doc_id", max_hamming=3).select(
        "d1", "d2", F.lit(1).alias("_hit")
    )
    verdict = truth.join(found, ["d1", "d2"], "left").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.count("_hit").alias("n_found"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.crossJoin(verdict).select(
        "n_docs",
        (F.col("n_found") == F.col("n_true")).alias("pigeonhole_ok"),
    )


@query(
    "dedup_natural_key",
    oracle="""
      SELECT doc_id, source, lang FROM (
        SELECT doc_id, source, lang,
               row_number() OVER (PARTITION BY source, lang ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    """,
)
def dedup_natural_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: ingest-time natural-key dedup with a deterministic winner
    (reference probes find_one(title) per row,
    ``extract_iqplus_news_dag.py:144``)."""
    kept = natural_key_dedup(
        _docs(spark, sf_dir), ["source", "lang"], [("doc_id", True)]
    )
    return kept.select("doc_id", "source", "lang")


# -------------------------------------------------------- similarity


_ANN_ORACLE = """
  WITH q AS (SELECT vec_id AS qid, embedding AS qvec
             FROM embeddings
             ORDER BY md5('annprobe:' || CAST(vec_id AS VARCHAR))
             LIMIT 10),
  pairs AS (
    SELECT qid, vec_id,
           list_sum(list_transform(range(1, len(qvec)+1),
             i -> CAST(qvec[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS dot,
           sqrt(list_sum(list_transform(qvec,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn,
           sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cn
    FROM q, embeddings WHERE vec_id <> qid
  ),
  ranked AS (
    SELECT qid, vec_id, round(dot/(qn*cn), 4) AS cos_sim,
           CAST(row_number() OVER (
             PARTITION BY qid ORDER BY round(dot/(qn*cn), 4) DESC, vec_id)
           AS INTEGER) AS rank
    FROM pairs
  )
  SELECT qid, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
"""


def _first_k_centroids(corpus: DataFrame, k: int = 16) -> DataFrame:
    """The deterministic centroid set shared by the IVF build, probe,
    and consistency-verdict queries — ONE definition so the serving
    path and its in-memory baseline can never silently diverge."""
    return (
        corpus.orderBy(F.col("vec_id").asc())
        .limit(k)
        .select(F.col("vec_id").alias("centroid"), F.col("embedding").alias("cvec"))
    )


@query("ann_cosine_topk", oracle=_ANN_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a bounded 10-query probe set
    (hash-spread over the id space, see _ann_query_corpus) — the
    correctness baseline for ANN. Dot products are ordered folds
    (zip_with + aggregate), rounded before ranking, tie-broken by id."""
    queries, corpus = _ann_query_corpus(spark, sf_dir)
    return cosine_topk(queries, corpus, k=5)


@query("ann_ivf_topk")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path: IVF-Flat — corpus partitioned into inverted
    lists by nearest centroid, queries probe only the nprobe closest
    lists, exact cosine within candidates. Rows-only check; recall vs
    brute force is asserted in tests/test_llm.py."""
    queries, corpus = _ann_query_corpus(spark, sf_dir)
    return ivf_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=6, n_assign=2
    )


@query("ann_ivf_serve")
def ann_ivf_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF at SERVING shape: the build step writes the corpus
    partitioned by centroid (inverted lists = partition directories,
    norms precomputed); the probe step broadcast-joins the tiny probe
    set so the corpus scan dynamic-partition-prunes to the probed
    lists only — the plan is asserted in tests/test_plans.py. Results
    must equal the in-memory ivf_topk on the same centroids (pinned in
    tests/test_llm.py). Rows-only check (assignment is
    engine-specific)."""
    import tempfile

    from full_docker_etl_spark.operators.similarity import (
        ivf_build_lists,
        ivf_probe_lists,
    )

    queries, corpus = _ann_query_corpus(spark, sf_dir)
    cents = _first_k_centroids(corpus)
    path = tempfile.mkdtemp(prefix="fde_ivf_") + "/lists"
    ivf_build_lists(corpus, path, cents, n_assign=2)
    return ivf_probe_lists(spark, path, queries, cents, k=5, nprobe=6)


@query(
    "ann_ivf_serve_consistency",
    oracle="""
      SELECT CAST(5 * LEAST(10, (SELECT COUNT(*) FROM embeddings))
                  AS BIGINT) AS n_serve,
             TRUE AS serve_ok
    """,
)
def ann_ivf_serve_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-path equivalence pin as an externally-checked
    VERDICT row: the partition-pruned on-disk probe
    (``ivf_probe_lists``) must return EXACTLY the rows of the
    in-memory ``ivf_topk`` on the same centroids — same (qid, vec_id,
    cos_sim, rank) quadruples, none missing, none extra. Previously
    this equivalence lived only in pytest; a serve-path regression
    (stale norms in the lists, a pruning bug dropping a probed
    partition, rank drift) now flips ``serve_ok`` — or changes
    ``n_serve`` off the oracle's k×|queries| count — and fails the
    driver's hash compare. n_serve is portable: both paths must fill
    all k slots for every query at these SFs."""
    serve = ann_ivf_serve(spark, sf_dir).select(
        "qid", "vec_id", "cos_sim", "rank"
    )
    queries, corpus = _ann_query_corpus(spark, sf_dir)
    cents = _first_k_centroids(corpus)
    mem = ivf_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=6, centroids=cents,
        n_assign=2,
    ).select("qid", "vec_id", "cos_sim", "rank")
    s = serve.withColumn("_s", F.lit(1))
    m = mem.withColumn("_m", F.lit(1))
    return (
        s.join(m, ["qid", "vec_id", "cos_sim", "rank"], "full_outer")
        .agg(
            F.count("_s").alias("n_serve"),
            F.count(F.when(F.col("_s").isNull() | F.col("_m").isNull(), 1)).alias(
                "n_mismatch"
            ),
        )
        .select(
            F.col("n_serve").cast("long").alias("n_serve"),
            (F.col("n_mismatch") == 0).alias("serve_ok"),
        )
    )


@query(
    "dedup_embedding_recall",
    oracle="""
      SELECT COUNT(*) AS n_planted, TRUE AS recall_ok
      FROM embeddings WHERE vec_id < 200
    """,
)
def dedup_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding near-dup tier's recall as an externally-checked
    VERDICT row. The planted frame (see planted_near_dup_embeddings)
    contains exactly one KNOWN near-dup pair per base vector —
    (i, i+1_000_000), cosine ≈0.9999 from the ±1% perturbation — so
    the planted-pair count is portable (the oracle counts the base
    vectors) even though the perturbation itself uses engine-internal
    xxhash64. The boolean asserts the banded-LSH tier recovered ≥90%
    of the planted pairs; a banding/sketch regression flips it and
    fails the driver's hash compare."""
    found = dedup_embedding(spark, sf_dir).select(
        "d1", "d2", F.lit(1).alias("_hit")
    )
    planted = (
        _embs(spark, sf_dir)
        .where(F.col("vec_id") < 200)
        .select(
            F.col("vec_id").alias("d1"),
            (F.col("vec_id") + F.lit(1_000_000)).alias("d2"),
        )
    )
    return (
        planted.join(found, ["d1", "d2"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_planted"),
            F.count("_hit").alias("n_found"),
        )
        .select(
            "n_planted",
            (F.col("n_found") >= F.lit(0.9) * F.col("n_planted")).alias(
                "recall_ok"
            ),
        )
    )


def planted_near_dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata embeddings hold NO cosine near-dups (max pairwise
    cosine ≈0.48), so the near-dup tier plants them: the first 200
    vectors are unioned with ±1% deterministically-perturbed copies
    (id + 1_000_000; per-dimension noise keyed by xxhash64(id, dim) —
    reproducible on any engine, no RNG state)."""
    embs = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 200)
        .select("vec_id", "embedding")
    )
    eps = lambda i: (
        (F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(2001)) - F.lit(1000)).cast(
            "double"
        )
        / F.lit(100000.0)
    )
    pert = embs.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (x.cast("double") * (F.lit(1.0) + eps(i))).cast("float"),
        ).alias("embedding"),
    )
    return embs.unionByName(pert)


@query("dedup_embedding")
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.98) via banded
    hyperplane-LSH blocking + exact cosine filter — the vector sibling
    of the MinHash text tier; candidates only from band-bucket
    collisions, never all-pairs. Runs over the planted near-dup frame
    (see planted_near_dup_embeddings) with band geometry SIZED FROM
    THE CORPUS via lsh_band_params — the same call shape that holds at
    10^9 vectors. Rows-only check; recall and precision vs brute
    force pinned in tests/test_llm.py."""
    frame = planted_near_dup_embeddings(spark, sf_dir)
    n_corpus = 2 * frame.where(F.col("vec_id") < 1_000_000).count()
    return cosine_pairs_lsh(
        frame, "vec_id", "embedding", threshold=0.98, corpus_size=n_corpus
    )


@query("dedup_semantic")
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding-CLUSTER dedup (Abbas et al. 2023): the
    cluster form of the vector tier — coarse k-means clusters, exact
    cosine ≥ 0.95 only WITHIN a cluster, connected components, keep
    the lowest id per component. Complements dedup_embedding (which
    prunes candidate PAIRS via LSH) with the published web-scale
    semantic-dedup shape. Runs over the planted near-dup frame; one
    row per vector, rep_id = component minimum. Rows-only (trained
    centroids + the hash sub-bucket cap are engine-internal); the
    oracle-checked sibling dedup_semantic_verdict pins recall AND
    precision on the planted pairs."""
    from full_docker_etl_spark.operators.dedup import semantic_dedup

    frame = planted_near_dup_embeddings(spark, sf_dir)
    return semantic_dedup(
        frame, "embedding", "vec_id", k=16, threshold=0.95, max_cluster=400
    )


@query(
    "dedup_semantic_verdict",
    oracle="""
      SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 200)
                  AS BIGINT) AS n_planted,
             TRUE AS recall_ok, TRUE AS precision_ok
    """,
)
def dedup_semantic_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic-cluster tier's quality as an externally-checked
    VERDICT row: every planted perturbed copy (i+1_000_000, cosine
    ≈0.9999 to its base — see planted_near_dup_embeddings) should fold
    to its base representative, and NO far-apart base vector (max
    pairwise cosine ≈0.48, well under the 0.95 threshold) may lose its
    own representation. recall_ok asserts ≥90% of planted copies
    linked (the <10% slack is the SemDeDup-inherent miss class: a copy
    landing across a cluster boundary); precision_ok asserts ZERO
    false merges among base vectors. A clustering or threshold
    regression flips either boolean and fails the driver's hash
    compare."""
    out = dedup_semantic(spark, sf_dir)
    return out.agg(
        F.count(F.when(F.col("vec_id") >= 1_000_000, 1)).alias("_np"),
        F.count(
            F.when(
                (F.col("vec_id") >= 1_000_000)
                & (F.col("rep_id") == F.col("vec_id") - 1_000_000),
                1,
            )
        ).alias("_nl"),
        F.count(
            F.when(
                (F.col("vec_id") < 1_000_000)
                & (F.col("rep_id") != F.col("vec_id")),
                1,
            )
        ).alias("_nf"),
    ).select(
        F.col("_np").cast("long").alias("n_planted"),
        (F.col("_nl") >= F.lit(0.9) * F.col("_np")).alias("recall_ok"),
        (F.col("_nf") == 0).alias("precision_ok"),
    )


@query(
    "pipeline_curate",
    oracle=f"""
      WITH canon_ids AS (SELECT MIN(doc_id) AS doc_id
                         FROM documents GROUP BY sha256(text)),
      canon AS (SELECT d.doc_id, d.text, d.lang
                FROM documents d JOIN canon_ids USING (doc_id)),
      feats AS (
        SELECT doc_id, lang, text,
               len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tok,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
               length(text) AS n_chars_m
        FROM canon),
      kept AS (
        SELECT * FROM feats
        WHERE n_tok >= 10
          AND CAST(n_alpha AS DOUBLE)/greatest(n_tok,1) BETWEEN 2.0 AND 12.0
          AND CAST(n_punct AS DOUBLE)/greatest(n_chars_m,1) <= 0.2),
      pii AS (
        SELECT *,
               len(regexp_extract_all(text, '{_EMAIL_PAT}'))
               + len(regexp_extract_all(text, '{_IP_PAT}'))
               + len(regexp_extract_all(text, '{_PHONE_PAT}')) AS n_pii
        FROM kept),
      sp AS (
        SELECT *,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) <= 'b'
                      THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) IN ('c','d')
                      THEN 'val'
                    ELSE 'test' END AS split
        FROM pii)
      SELECT split, lang, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(SUM(n_pii) AS BIGINT) AS n_pii
      FROM sp GROUP BY split, lang
    """,
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPSTONE curation pipeline — the operators composed the way
    a real pretraining-data run chains them: exact-dedup to canonical
    docs → Gopher-style quality gate → PII census → leak-free hash
    split → per-(split, lang) corpus accounting. Every stage is the
    same registered operator the standalone queries pin, so the
    composition itself is what's under test here — and the whole chain
    stays in one declarative plan: scan → map-only features/flags →
    ONE shuffle for the dedup groupBy and ONE for the final stats
    (the split/quality/PII stages add no exchange). The oracle
    recomputes the entire pipeline in SQL, value-checking the
    composition end to end."""
    docs = _docs(spark, sf_dir)
    canon_ids = exact_dedup(docs, "text", "doc_id").select(
        F.col("canonical_id").alias("doc_id")
    )
    canon = docs.join(canon_ids, "doc_id")
    feats = tx.quality_features(F.col("text"))
    kept = canon.where(tx.quality_flag(feats)).select(
        "doc_id", "lang", "text", feats["n_tokens"].alias("n_tok")
    )
    scrub = tx.pii_scrub(F.col("text"))
    with_pii = kept.select(
        "doc_id",
        "lang",
        "n_tok",
        (scrub["n_email"] + scrub["n_ipv4"] + scrub["n_phone"]).alias("n_pii"),
    )
    from full_docker_etl_spark.operators.sampling import hash_split

    return (
        hash_split(with_pii, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("n_pii").cast("long").alias("n_pii"),
        )
    )


def _synth_url() -> F.Column:
    """The deterministic URL derived from (source, doc_id) — the
    documents table carries no URL column, so the domain-curation
    queries synthesize one exercising every normalization rule
    (mixed-case scheme/host, alternating www. prefixes and ports).
    Keep in lockstep with ``_SYNTH_URL_SQL``."""
    return F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("https://"))
        .when(F.col("doc_id") % 3 == 1, F.lit("http://"))
        .otherwise(F.lit("HTTPS://")),
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.expr("concat(upper(substring(source, 1, 1)), substring(source, 2))"),
        F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":8443")).otherwise(F.lit("")),
        F.lit("/a/"),
        F.col("doc_id").cast("string"),
    )


# host-curation CTE block shared by curate_domains and the capstone
# pipeline oracle: synth URL -> normalized host -> blocklist -> quota
# rank; ends with CTE q{quota} = the surviving (doc_id, host, ranks).
_CURATE_HOST_SQL = """
      u AS (
        SELECT doc_id,
               (CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN 'https://' WHEN 1 THEN 'http://'
                  ELSE 'HTTPS://' END)
               || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
               || upper(substr(source, 1, 1)) || substr(source, 2)
               || '.Example.COM'
               || (CASE WHEN doc_id % 4 = 0 THEN ':8443' ELSE '' END)
               || '/a/' || CAST(doc_id AS VARCHAR) AS url
        FROM documents),
      h AS (
        SELECT doc_id,
               regexp_replace(
                 lower(regexp_extract(url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)),
                 '^www\\.', '') AS host
        FROM u),
      f AS (SELECT * FROM h
            WHERE host NOT IN ('src17.example.com', 'src18.example.com')),
      r AS (
        SELECT doc_id, host,
               CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id)
                    AS BIGINT) AS host_rank,
               CAST(COUNT(*) OVER (PARTITION BY host)
                    AS BIGINT) AS n_host_docs
        FROM f),
      q AS (SELECT doc_id, host, host_rank, n_host_docs
            FROM r WHERE host_rank <= 15)"""


@query(
    "curate_adaptive_cutoff",
    oracle="""
      WITH t AS (
        SELECT doc_id, source,
               ROUND(CAST(len(list_filter(
                     regexp_split_to_array(trim(lower(text)), '\\s+'),
                     t -> list_contains(['the','and','of','to','a','in',
                                         'is','it','that','for'], t)))
                     AS DOUBLE)
                 / greatest(len(regexp_split_to_array(trim(lower(text)),
                                                      '\\s+')), 1),
                 4) AS score
        FROM documents WHERE text IS NOT NULL),
      c AS (SELECT source, quantile_disc(score, 0.25) AS cutoff
            FROM t GROUP BY source)
      SELECT t.doc_id, t.source, t.score, c.cutoff,
             t.score >= c.cutoff AS keep
      FROM t JOIN c USING (source)
    """,
)
def curate_adaptive_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE adaptive quality threshold — the FineWeb-style
    refinement of a fixed global cutoff: each source's p25 of the
    stopword-density score becomes ITS OWN keep threshold, so the
    filter drops every source's least-natural quartile instead of
    letting one verbose domain set the bar for all (fixed thresholds
    over-prune terse sources and under-prune boilerplate-heavy ones).
    Composes the cheap quality features with the count-based
    percentile (grouped_percentiles_from_counts) in its DISCRETE
    nearest-rank form: the cutoff is an ACTUALLY-ATTAINED 4-dp score
    (quantile_disc), so it is bit-exact in any engine — an
    interpolated p25 of grid-spaced scores can land exactly on a
    rounding midpoint where a 1-ulp cross-engine difference flips the
    rounded digit (caught by the 10x parity sweep at sf0.1, src13).
    Percentile state stays O(distinct scores per source); the
    #sources-row cutoff table broadcasts back; the driver value-checks
    every doc's boundary decision."""
    from full_docker_etl_spark.operators.profile import (
        grouped_percentiles_from_counts,
    )
    from full_docker_etl_spark.operators.text import quality_features

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    scored = docs.select(
        "doc_id",
        "source",
        F.round(
            quality_features(F.col("text"))["stopword_ratio"], 4
        ).alias("score"),
    )
    vc = scored.groupBy("source", "score").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cut = grouped_percentiles_from_counts(
        vc, "source", "score", "cnt", {"cutoff": 0.25}, discrete=True
    ).select("source", "cutoff")
    return scored.join(F.broadcast(cut), "source").select(
        "doc_id",
        "source",
        "score",
        "cutoff",
        (F.col("score") >= F.col("cutoff")).alias("keep"),
    )


@query(
    "curate_domains",
    oracle=f"""
      WITH {_CURATE_HOST_SQL}
      SELECT doc_id, host, host_rank, n_host_docs FROM q
    """,
)
def curate_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/URL-level curation — the C4/CCNet pre-filter stage
    (reference analogue: category-from-link,
    transform_iqplus_news_dags.py:138-141): normalize each document's
    URL to its canonical host (scheme/userinfo/port/path stripped,
    lowercased, leading www. removed), anti-join a host blocklist
    (broadcast — the blocklist never shuffles the corpus), then cap
    each host at 15 docs by admission order (lowest doc_id first),
    reporting each survivor's rank and its host's pre-cap size.

    The documents table carries no URL column, so the URL is DERIVED
    deterministically from (source, doc_id) — mixed-case scheme/host,
    alternating www. prefixes and ports — exercising every
    normalization rule; the oracle builds the identical URLs in SQL,
    so the driver value-checks normalization, blocklist, and quota
    end to end. One exchange total: the blocklist filter rides the
    scan (broadcast anti-join) and rank + census share the single
    host-hash window shuffle."""
    from full_docker_etl_spark.operators.curation import (
        blocklist_filter,
        host_quota_cap,
        normalized_host,
    )

    docs = _docs(spark, sf_dir)
    hosts = docs.select(
        "doc_id", normalized_host(_synth_url()).alias("host")
    )
    blocked = spark.createDataFrame(
        [("src17.example.com",), ("src18.example.com",)], "host string"
    )
    kept = blocklist_filter(hosts, "host", blocked)
    return host_quota_cap(kept, "host", [("doc_id", True)], quota=15).select(
        "doc_id", "host", "host_rank", "n_host_docs"
    )


@query(
    "pipeline_curate_llm",
    oracle=f"""
      WITH {_CURATE_HOST_SQL},
      s0 AS (SELECT d.* FROM documents d JOIN q USING (doc_id)),
      t AS (SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM s0 WHERE text IS NOT NULL),
      tok AS (SELECT * FROM (SELECT doc_id, y, unnest(toks) AS w FROM t)
              WHERE len(w) > 0),
      cw AS (SELECT w, SUM(y) AS c_pos, COUNT(*) - SUM(y) AS c_neg
             FROM tok GROUP BY w),
      tots AS (SELECT SUM(y) AS tot_pos, COUNT(*) - SUM(y) AS tot_neg,
                      COUNT(DISTINCT w) AS v
               FROM tok),
      prior AS (SELECT ln((SUM(y) + 1.0) / (COUNT(*) - SUM(y) + 1.0)) AS lp
                FROM t),
      odds AS (SELECT w,
                      ln((c_pos + 1.0) / (tot_pos + v))
                        - ln((c_neg + 1.0) / (tot_neg + v)) AS lo
               FROM cw CROSS JOIN tots),
      sc AS (SELECT tok.doc_id,
                    ROUND(SUM(lo) + ANY_VALUE(lp), 4) > 0 AS pred
             FROM tok JOIN odds USING (w) CROSS JOIN prior
             GROUP BY tok.doc_id),
      g AS (SELECT s0.* FROM s0 JOIN sc ON sc.doc_id = s0.doc_id
            WHERE sc.pred),
      d2 AS (SELECT source,
                    len(regexp_split_to_array(trim(text), '\\s+')) AS ntok
             FROM g WHERE text IS NOT NULL),
      gg AS (SELECT source, CAST(SUM(ntok) AS DOUBLE) AS avail
             FROM d2 GROUP BY source),
      tt AS (SELECT source, avail,
                    SUM(avail) OVER () AS tot,
                    POW(avail, 0.5) / SUM(POW(avail, 0.5)) OVER () AS w
             FROM gg),
      pp AS (SELECT source, avail, w,
                    0.5 * tot * w AS target,
                    LEAST(2.0, 0.5 * tot * w / avail) AS epochs
             FROM tt)
      SELECT source,
             CAST(avail AS BIGINT) AS avail_tokens,
             ROUND(w, 6) AS weight,
             ROUND(target, 4) AS target_tokens,
             ROUND(epochs, 6) AS epochs,
             ROUND(epochs * avail, 4) AS planned_tokens,
             ROUND(epochs * avail / SUM(epochs * avail) OVER (), 6)
               AS achieved_share
      FROM pp
    """,
)
def pipeline_curate_llm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-era CAPSTONE curation pipeline — this round's stages
    composed the way a pretraining-data recipe chains them: URL/host
    curation (normalize → blocklist → 15-doc host quota, the C4/CCNet
    pre-filter) → TRAINED quality gate (NB classifier trained on the
    quota survivors with the lang='en' target seed; only
    predicted-positive docs pass — the GPT-3 classifier-filter step)
    → token-budget mixture plan over the curated corpus (α = 0.5,
    half-corpus budget, 2-epoch cap). Output = the per-source
    allocation table a training run would consume. Every stage is the
    SAME operator its standalone query pins (curate_domains,
    text_quality_classifier, sample_token_budget); the oracle replays
    the full composition in SQL, so the driver value-checks the
    chain end to end — including the gate's effect on the final
    allocations."""
    from full_docker_etl_spark.operators.curation import (
        blocklist_filter,
        host_quota_cap,
        normalized_host,
    )
    from full_docker_etl_spark.operators.sampling import token_budget_plan
    from full_docker_etl_spark.operators.text import nb_score, nb_train

    docs = _docs(spark, sf_dir)
    hosts = docs.select("doc_id", normalized_host(_synth_url()).alias("host"))
    blocked = spark.createDataFrame(
        [("src17.example.com",), ("src18.example.com",)], "host string"
    )
    capped = host_quota_cap(
        blocklist_filter(hosts, "host", blocked),
        "host",
        [("doc_id", True)],
        quota=15,
    )
    survivors = docs.join(capped.select("doc_id"), "doc_id")
    model = nb_train(
        survivors.withColumn("y", (F.col("lang") == "en").cast("int")),
        "text",
        "y",
    )
    passed = nb_score(survivors, "text", "doc_id", *model).where("pred_pos")
    gated = survivors.join(passed.select("doc_id"), "doc_id")
    with_tokens = gated.where(F.col("text").isNotNull()).select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ntok"),
    )
    return token_budget_plan(
        with_tokens, "source", "ntok",
        budget_frac=0.5, alpha=0.5, max_epochs=2.0,
    )


def _ann_query_corpus(spark, sf_dir):
    """The shared 10-query probe slice for every ANN query and recall
    verdict: the 10 vectors with the SMALLEST md5('annprobe:'||vec_id)
    — hash-spread across the whole id space (the repo's _uniform_u32
    pattern), not the first 10 ids, so a regression that spares a
    corner of the corpus (e.g. a centroid-assignment bug away from the
    low ids) still moves the measured recall. Deterministic and
    engine-portable: the oracle recomputes the same slice with
    DuckDB's md5; orderBy+limit compiles to TakeOrderedAndProject (no
    global-sort exchange — the sweeping plan gate keeps that true)."""
    embs = _embs(spark, sf_dir)
    h = F.md5(
        F.concat(F.lit("annprobe:"), F.col("vec_id").cast("string"))
    )
    queries = (
        embs.select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
            h.alias("__h"),
        )
        .orderBy("__h")
        .limit(10)
        .drop("__h")
    )
    # spread the corpus side: every ANN tier's heavy per-row stage
    # (hyperplane sketch folds, PQ/SQ encodes, centroid argmax, brute
    # scoring) runs where the corpus is partitioned, and the
    # single-row-group embeddings file arrives as ONE scan partition —
    # measured as whole ANN queries executing on one core (5 tasks for
    # a multi-second query). No-op at real scale, where the corpus
    # scan already has >= cores partitions (operators/util.spread).
    from full_docker_etl_spark.operators.util import spread

    return queries, spread(embs.select("vec_id", "embedding"))


def _ann_recall_verdict(
    exact: DataFrame, approx: DataFrame, floor: float
) -> DataFrame:
    """Shared verdict tail for the ANN recall queries: count the exact
    top-k entries (oracle-recomputable) and flag whether the approx
    tier found at least ``floor`` of them.

    Examined and REJECTED (r19): checkpointing the approx side to
    split the closing exact ∪ approx plan (the arrival/store-composite
    plan-cut pattern) measured a wash-to-loss across two A/B draws —
    unlike the composites, this plan is built and planned exactly ONCE,
    so the split saves no repeated Catalyst work and the extra eager
    action costs scheduling latency."""
    hits = approx.select("qid", "vec_id", F.lit(1).alias("_hit"))
    return (
        exact.select("qid", "vec_id")
        .join(hits, ["qid", "vec_id"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_hit").alias("n_found"),
        )
        .select(
            "n_exact",
            (F.col("n_found") >= F.lit(floor) * F.col("n_exact")).alias(
                "recall_ok"
            ),
        )
    )


_ANN_RECALL_ORACLE = f"""
  SELECT COUNT(*) AS n_exact, TRUE AS recall_ok FROM ({_ANN_ORACLE})
"""


@query("ann_ivf_recall", oracle=_ANN_RECALL_ORACLE)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tier's recall bound as an externally-checked VERDICT row
    (the dedup_minhash_recall pattern applied to ANN): the exact side
    is brute-force cosine top-5 — the oracle recomputes its COUNT from
    the same SQL that checks ann_cosine_topk value-by-value — and the
    boolean asserts IVF (nprobe=6 of 16 lists, 2-way corpus
    multi-assignment) recovered ≥75% of it. Measured 0.78-0.92 across
    SFs on the HASH-SPREAD probe slice — the honest number: the old
    low-id slice read 0.92-1.0 while whole-space recall at the old
    (nprobe=4, single-assign) point was 0.52-0.54; multi-assignment
    is what bought it back (see ivf_topk). A probe/assignment
    regression flips the boolean and fails the driver's hash
    compare."""
    queries, corpus = _ann_query_corpus(spark, sf_dir)
    exact = cosine_topk(queries, corpus, k=5)
    approx = ivf_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=6, n_assign=2
    )
    return _ann_recall_verdict(exact, approx, 0.75)


@query("ann_ivf_kmeans_recall", oracle=_ANN_RECALL_ORACLE)
def ann_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall verdict for the TRAINED-centroid IVF path: 3 Lloyd's
    rounds trained driver-side on a bounded hash-spread sample (the
    FAISS convention — constant in corpus size; the corpus pays one
    distributed membership pass), then the same nprobe=6 /
    2-way-assign probe; floor 0.75 (measured 0.86-0.90 across SFs on
    the hash-spread probe slice). Catches k-means regressions (bad
    init, mean drift, empty clusters) as an external red row, not just
    a pytest."""
    from full_docker_etl_spark.operators.similarity import kmeans_centroids

    queries, corpus = _ann_query_corpus(spark, sf_dir)
    exact = cosine_topk(queries, corpus, k=5)
    cents = kmeans_centroids(corpus, "embedding", "vec_id", k=16, max_iter=3)
    approx = ivf_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=6, centroids=cents,
        n_assign=2,
    )
    return _ann_recall_verdict(exact, approx, 0.75)


@query("ann_lsh_recall", oracle=_ANN_RECALL_ORACLE)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall verdict for the multi-table hyperplane-LSH path at 8
    independent plane families (per-table misses multiply:
    recall ≈ 1-(1-p)^8): measured 0.80-0.82 across SFs on the
    hash-spread probe slice, floor 0.6. LSH stays the secondary
    structure (IVF recalls 0.86+ at a smaller candidate volume on this
    clustered corpus; LSH is kept for corpora without cluster
    structure), but the verdict now pins real recall, not merely
    'did not collapse'."""
    queries, corpus = _ann_query_corpus(spark, sf_dir)
    exact = cosine_topk(queries, corpus, k=5)
    approx = hyperplane_lsh_topk(
        queries, corpus, k=5, n_planes=8, n_tables=8
    )
    return _ann_recall_verdict(exact, approx, 0.6)


@query("ann_ivf_pq_recall", oracle=_ANN_RECALL_ORACLE)
def ann_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall verdict for the PRODUCT-QUANTIZED IVF tier: m=8 one-byte
    subspace codes per 64-dim vector (8 B codes vs 256 B float32 — 32×
    code compression, 16 B/entry with the stored reconstruction norm),
    TRAINED codebooks (k=64 per 8-dim subspace: hash-spread init + 3
    per-subspace Lloyd's rounds over a bounded training sample — the
    round-8 hash-spread-only trade, upgraded per VERDICT r8 #4; the
    training cost is constant in corpus size), ASYMMETRIC-DISTANCE
    probing (each query's m×k dot table precomputed once; a
    candidate's score is m table lookups, zero vector arithmetic),
    exact re-rank of the top 12k. Floor raised to 0.75 — the SQ tier's
    bar — now that the codes carry trained centroids; the oracle pins
    recall_ok TRUE so a codebook/encode/ADC regression fails the
    driver's hash compare. Compression story in SCALE.md;
    ann_ivf_sq_recall pins the 4× int8 rung of the same ladder."""
    from full_docker_etl_spark.operators.similarity import ivf_pq_topk

    queries, corpus = _ann_query_corpus(spark, sf_dir)
    exact = cosine_topk(queries, corpus, k=5)
    approx = ivf_pq_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=6, n_assign=2,
        rerank_factor=12, n_codes=64, train_iters=3,
    )
    return _ann_recall_verdict(exact, approx, 0.75)


@query("ann_ivf_pq_topk")
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k through the product-quantized IVF lists (ADC probe +
    exact re-rank) — the serving shape when even int8 lists out-size
    memory. Rows-only by design; its value checks are the
    oracle-checked verdict sibling ann_ivf_pq_recall."""
    from full_docker_etl_spark.operators.similarity import ivf_pq_topk

    queries, corpus = _ann_query_corpus(spark, sf_dir)
    return ivf_pq_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=6, n_assign=2,
        rerank_factor=12, n_codes=64, train_iters=3,
    )


@query("ann_ivf_sq_recall", oracle=_ANN_RECALL_ORACLE)
def ann_ivf_sq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall verdict for the int8 SCALAR-QUANTIZED IVF tier (the 4×
    rung of the compression ladder whose 32× rung is
    ann_ivf_pq_recall): symmetric int8 codes + asymmetric float×int8
    candidate scoring + exact re-rank of the top 4k — at 4×
    compression the re-rank already restores the float tier's recall,
    measured 0.78-0.92 across SFs on the hash-spread probe slice,
    IDENTICAL to ann_ivf_recall's float-list numbers at the same
    (nprobe=6, n_assign=2) operating point; same floor 0.75.
    The verdict's exact side is the same brute-force truth as every
    ANN verdict, so a quantization regression (bad scale, overflow,
    re-rank window too small) flips the boolean the oracle pins TRUE.
    Compression story: SCALE.md (256 B float32 → 64 B int8 + 8 B norm
    per 64-dim list entry)."""
    from full_docker_etl_spark.operators.similarity import ivf_sq_topk

    queries, corpus = _ann_query_corpus(spark, sf_dir)
    exact = cosine_topk(queries, corpus, k=5)
    approx = ivf_sq_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=6, n_assign=2,
        rerank_factor=4,
    )
    return _ann_recall_verdict(exact, approx, 0.75)


@query("ann_ivf_sq_topk")
def ann_ivf_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k through the int8-quantized IVF lists with exact re-rank —
    the serving shape when the inverted lists are the memory wall (4×
    smaller index; only |Q|·4k full-precision point lookups). Rows-only
    by design; its value checks are the oracle-checked verdict sibling
    ann_ivf_sq_recall, per the repo's sketch-sibling convention."""
    from full_docker_etl_spark.operators.similarity import ivf_sq_topk

    queries, corpus = _ann_query_corpus(spark, sf_dir)
    return ivf_sq_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=6, n_assign=2,
        rerank_factor=4,
    )


@query("ann_lsh_topk")
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternative bucketing: multi-table random-hyperplane LSH with
    1-bit multi-probe, 8 independent plane families (per-table misses
    multiply: measured recall 0.80 on the spread probe slice vs 0.56-
    0.64 at 4 tables — the table count is the recall/candidate-volume
    dial, ~L·(1+planes)/2^planes of the corpus per query). Kept
    alongside IVF for corpora without cluster structure; on the
    clustered testdata IVF recalls slightly better at a smaller
    candidate volume (see tests/test_llm.py)."""
    queries, corpus = _ann_query_corpus(spark, sf_dir)
    return hyperplane_lsh_topk(queries, corpus, k=5, n_planes=8, n_tables=8)


@query(
    "embed_norm",
    oracle="""
      SELECT vec_id, label,
             CAST(len(embedding) AS INTEGER) AS dim,
             round(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
      FROM embeddings
    """,
)
def embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal columns as first-class data: array<float> embeddings
    with typed metadata (dimension, L2 norm) — pure array built-ins."""
    from full_docker_etl_spark.operators.similarity import _dot

    e = F.col("embedding")
    return _embs(spark, sf_dir).select(
        "vec_id",
        "label",
        F.size(e).alias("dim"),
        F.round(F.sqrt(_dot(e, e)), 4).alias("l2_norm"),
    )


# ------------------------------------------------------ text analysis


def _langid_oracle() -> str:
    score_cols = []
    for lang in sorted(tx.LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in tx.LANG_MARKERS[lang])
        score_cols.append(
            f"CAST(len(list_filter(toks, t -> list_contains([{markers}], t)))"
            f" AS INTEGER) AS score_{lang}"
        )
    langs = sorted(tx.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "CASE "
    for lang in langs:
        pred += f"WHEN score_{lang} = {best} THEN '{lang}' "
    pred += "END"
    return f"""
      WITH t AS (SELECT doc_id, lang,
                        regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
                 FROM documents),
      s AS (SELECT doc_id, lang, {', '.join(score_cols)} FROM t)
      SELECT doc_id, lang AS lang_actual,
             {', '.join(f'score_{lang}' for lang in langs)},
             CASE WHEN {best} <= 0 THEN 'und' ELSE {pred} END AS lang_pred
      FROM s
    """


@query("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by function-word evidence + deterministic argmax —
    the operator shape of an n-gram language classifier, UDF-free."""
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        *tx.lang_scores(F.col("text")),
    )
    score_cols = [f"score_{lang}" for lang in sorted(tx.LANG_MARKERS)]
    return scored.withColumn("lang_pred", tx.lang_predict(score_cols))


@query(
    "text_quality",
    oracle="""
      WITH t AS (
        SELECT doc_id,
               length(text) AS n_chars_m,
               len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tok,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
               len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                   t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS n_stop
        FROM documents)
      SELECT doc_id,
             CAST(n_chars_m AS BIGINT) AS n_chars,
             CAST(n_tok AS INTEGER) AS n_tokens,
             CAST(n_alpha AS DOUBLE) / greatest(n_tok, 1) AS mean_tok_len,
             CAST(n_stop AS DOUBLE) / greatest(n_tok, 1) AS stopword_ratio,
             CAST(n_punct AS DOUBLE) / greatest(n_chars_m, 1) AS punct_ratio,
             (n_tok >= 10
              AND CAST(n_alpha AS DOUBLE) / greatest(n_tok, 1) >= 2.0
              AND CAST(n_alpha AS DOUBLE) / greatest(n_tok, 1) <= 12.0
              AND CAST(n_punct AS DOUBLE) / greatest(n_chars_m, 1) <= 0.2) AS keep
      FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: cheap per-doc signals + Gopher-style keep flag.
    Ratios are int/int double divisions — exact cross-engine."""
    docs = _docs(spark, sf_dir)
    feats = tx.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_chars"].cast("long").alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_tok_len"].alias("mean_tok_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        tx.quality_flag(feats).alias("keep"),
    )


@query(
    "text_tokens",
    oracle=f"""
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_ws_tokens,
             CAST(len(regexp_extract_all(text, '{tx.BPE_ISH_PATTERN}')) AS INTEGER) AS n_bpe_tokens
      FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish pre-tokenizer run
    counts (letter runs | digit runs | single symbols)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        tx.token_count_ws(F.col("text")).alias("n_ws_tokens"),
        tx.token_count_bpe_ish(F.col("text")).alias("n_bpe_tokens"),
    )


@query(
    "text_fingerprint",
    oracle="""
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-invariant document fingerprint (md5 of lower-cased
    whitespace-collapsed text)."""
    return _docs(spark, sf_dir).select(
        "doc_id", tx.fingerprint(F.col("text")).alias("fp")
    )


# Synthetic documents carry no PII, so the scrub query PLANTS one
# deterministic email + IPv4 + phone per doc (the
# planted_near_dup_embeddings pattern: both engines construct the same
# input, so effectiveness is value-checked, not assumed).
_PII_PLANT_SQL = """
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com at 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.7 call +62-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
"""


@query(
    "text_pii_scrub",
    oracle=f"""
      WITH planted AS ({_PII_PLANT_SQL}),
      scrubbed AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_EMAIL_PAT}')) AS INTEGER) AS n_email,
               CAST(len(regexp_extract_all(text, '{_IP_PAT}')) AS INTEGER) AS n_ipv4,
               CAST(len(regexp_extract_all(text, '{_PHONE_PAT}')) AS INTEGER) AS n_phone,
               regexp_replace(regexp_replace(regexp_replace(text,
                 '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                 '{_IP_PAT}', '<IP>', 'g'),
                 '{_PHONE_PAT}', '<PHONE>', 'g') AS clean_text
        FROM planted
      )
      SELECT doc_id, n_email, n_ipv4, n_phone, clean_text,
             NOT (regexp_matches(clean_text, '{_EMAIL_PAT}')
                  OR regexp_matches(clean_text, '{_IP_PAT}')
                  OR regexp_matches(clean_text, '{_PHONE_PAT}')) AS pii_free
      FROM scrubbed
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus (operators/text.py pii_scrub):
    mask emails / IPv4s / phones with typed placeholders, count each
    kind, and assert the scrubbed text is residue-free. The patterns
    live in the Java-regex ∩ RE2 common subset so the DuckDB oracle
    value-checks every masked byte and every count — the scrub is
    PROVEN effective per row (``pii_free``), not spot-checked. Pure
    regexp built-ins: a zero-shuffle map-only pass at 100 TB."""
    docs = _docs(spark, sf_dir)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".0.7 call +62-555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        ).alias("text"),
    )
    cols = tx.pii_scrub(F.col("text"))
    scrubbed = planted.select(
        "doc_id",
        cols["n_email"].alias("n_email"),
        cols["n_ipv4"].alias("n_ipv4"),
        cols["n_phone"].alias("n_phone"),
        cols["clean_text"].alias("clean_text"),
    )
    residue = (
        F.regexp_like(F.col("clean_text"), F.lit(_EMAIL_PAT))
        | F.regexp_like(F.col("clean_text"), F.lit(_IP_PAT))
        | F.regexp_like(F.col("clean_text"), F.lit(_PHONE_PAT))
    )
    return scrubbed.select("*", (~residue).alias("pii_free"))


# -------------------------------------------------------- multimodal


@query(
    "mm_decode_meta",
    oracle="""
      WITH b AS (SELECT doc_id, text,
                        CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                        hex(encode(text)) AS hx
                 FROM documents),
      v AS (SELECT doc_id, text, n_bytes,
                   (strpos('0123456789ABCDEF', hx[1]) - 1) * 16
                     + strpos('0123456789ABCDEF', hx[2]) - 1 AS b1,
                   (strpos('0123456789ABCDEF', hx[length(hx)-1]) - 1) * 16
                     + strpos('0123456789ABCDEF', hx[length(hx)]) - 1 AS b2
            FROM b)
      SELECT doc_id, n_bytes,
             CASE WHEN b1 % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
             CAST(64 + (b1 % 8) * 16 AS INTEGER) AS width,
             CAST(64 + (b2 % 8) * 16 AS INTEGER) AS height,
             md5(text) AS checksum
      FROM v
    """,
)
def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payloads → typed metadata via
    Arrow-batched mapInPandas with an explicit schema (decode itself is
    a deterministic stub — codecs aren't in this container).
    ORACLE-checked: the stub derives metadata from payload bytes, so
    DuckDB re-derives it from the hex of the same bytes — the Python
    stage's full output is value-verified (swap in a real codec and
    this oracle is the one thing to drop)."""
    payloads = documents_as_binary(_docs(spark, sf_dir))
    return decode_binary_meta(payloads, "doc_id", "payload")


# ------------------------------------------------- training-data prep


@query(
    "text_tfidf",
    oracle="""
      WITH toks AS (SELECT doc_id, term FROM (
                      SELECT doc_id,
                             unnest(regexp_split_to_array(trim(text), '\\s+'))
                               AS term
                      FROM documents)
                    WHERE term <> ''),  -- engine drops the '' pseudo-token
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      docfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n FROM documents),
      scored AS (SELECT doc_id, tf.term, tf,
                        ROUND(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 4) AS tfidf
                 FROM tf JOIN docfreq ON tf.term = docfreq.term CROSS JOIN n)
      SELECT doc_id, term, tf, tfidf, CAST(rn AS INTEGER) AS rn FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rn
        FROM scored
      ) WHERE rn <= 5
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smoothed idf). Scores rounded
    before ranking so the cut is engine-portable; df/N join back as
    broadcasts."""
    from full_docker_etl_spark.operators.text import tf_idf

    return tf_idf(_docs(spark, sf_dir), "text", "doc_id", top_k=5)


@query(
    "sample_importance_dsir",
    oracle="""
      WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents WHERE text IS NOT NULL),
      uni AS (SELECT doc_id, unnest(toks) AS g FROM t),
      bi AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
             FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1))
                              AS i) s),
      g AS (SELECT doc_id,
                   CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 512 AS bkt
            FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
      df AS (SELECT doc_id, bkt, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
      tgt AS (SELECT doc_id FROM documents
              WHERE text IS NOT NULL
                AND CAST(('0x' || substr(md5('dsirtgt:'
                      || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 8 = 0),
      cq AS (SELECT bkt, SUM(cnt) AS cq FROM df GROUP BY 1),
      cp AS (SELECT bkt, COUNT(*) AS cp FROM g JOIN tgt USING (doc_id)
             GROUP BY 1),
      tot AS (SELECT (SELECT SUM(cq) FROM cq) AS tq,
                     (SELECT COALESCE(SUM(cp), 0) FROM cp) AS tp),
      r AS (SELECT cq.bkt,
                   ln(COALESCE(cp.cp, 0) + 0.5) - ln(tot.tp + 0.5 * 512)
                   - ln(cq.cq + 0.5) + ln(tot.tq + 0.5 * 512) AS lw
            FROM cq LEFT JOIN cp USING (bkt) CROSS JOIN tot),
      d AS (SELECT df.doc_id, CAST(SUM(df.cnt) AS BIGINT) AS n_grams,
                   SUM(df.cnt * r.lw) AS s
            FROM df JOIN r USING (bkt) GROUP BY 1)
      SELECT doc_id, n_grams, ROUND(s, 4) AS logw,
             ROUND(s / n_grams, 4) AS avg_logw
      FROM d
      QUALIFY ROW_NUMBER() OVER (ORDER BY ROUND(s, 4) DESC, doc_id)
              <= (SELECT GREATEST(1, FLOOR(0.2 * COUNT(*)))
                  FROM documents WHERE text IS NOT NULL)
    """,
)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): importance-resample the
    corpus toward a target distribution using hashed unigram+bigram
    models — the published scale trick that turns 'train two n-gram
    LMs and score everything' into three counting aggregations and a
    broadcast join. Target here = the md5('dsirtgt:') 1/8 hash slice
    (the testdata has no engineered subpopulation, so the weights are
    honest sampling noise — the selection is still fully
    deterministic); a real run passes a seed corpus. Keeps the top 20%
    by weight (rounded-weight desc, doc_id tie-break →
    TakeOrderedAndProject, no global sort). The oracle recomputes
    buckets, both smoothed models, every weight, and the selection
    boundary value for value. Distribution-shift semantics pinned in
    tests/test_training_prep.py."""
    from full_docker_etl_spark.operators.sampling import dsir_resample

    docs = _docs(spark, sf_dir)
    tgt_bkt = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dsirtgt:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    target = docs.where(F.pmod(tgt_bkt, F.lit(8)) == 0)
    return dsir_resample(
        docs, target, "text", "doc_id", frac=0.2, n_buckets=512
    )


@query(
    "sample_hash_split",
    oracle="""
      SELECT doc_id, source,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
                    THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d')
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/12.5/12.5 train/val/test assignment from the
    md5 hex prefix of the key — stable under corpus growth and task
    retry (no RNG), identical on any engine that can md5. The
    leak-free split invariant every training pipeline needs."""
    from full_docker_etl_spark.operators.sampling import hash_split

    return hash_split(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", "source", "split"
    )


@query(
    "sample_stratified_split",
    oracle="""
      WITH r AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                 PARTITION BY lang
                 ORDER BY md5('strat0:' || CAST(doc_id AS VARCHAR)), doc_id
               ) - 1 AS r,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents)
      SELECT doc_id, lang,
             CASE WHEN r * 8 < n * 6 THEN 'train'
                  WHEN r * 8 < n * 7 THEN 'val'
                  ELSE 'test' END AS split
      FROM r
    """,
)
def sample_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-proportion stratified split: every language's
    train/val/test sizes are exact to the row (integer rank bands over
    an md5 order), where hash-banding is exact only in expectation and
    under-represents small strata in eval sets. The ORACLE is the
    semantic spec — one naive per-stratum window; the engine computes
    the same ranks with the two-level bucketed rank (per-(stratum,
    2-hex-prefix-bucket) counts, exclusive prefix over the bounded
    bucket frame, broadcast offsets, in-bucket windows) — no
    rangepartitioning, no corpus-sized sort partition (plan-gated
    with the rest of the registry)."""
    from full_docker_etl_spark.operators.sampling import stratified_split

    return stratified_split(
        _docs(spark, sf_dir), ["lang"], "doc_id", seed="strat0"
    ).select("doc_id", "lang", "split")


@query(
    "sample_temperature_mix",
    oracle="""
      WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents
                      GROUP BY lang),
      rates AS (
        SELECT lang,
               CAST(FLOOR(ROUND(POW(CAST(n AS DOUBLE)
                                      / (SELECT MIN(n) FROM counts),
                                    -0.5), 6)
                          * 4294967296) AS BIGINT) AS thr
        FROM counts)
      SELECT d.doc_id, d.lang
      -- null-safe: a NULL lang is a real group (engine joins eqNullSafe)
      FROM documents d JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang
      WHERE CAST(('0x' || substr(
                    md5('mix0:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) < thr
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (α = 0.5 over ``lang``, whose
    corpus distribution is skewed ~3:1 toward en): per-group keep rate
    (n_g/min_n)^(α-1) hash-thins the over-represented groups so kept
    counts are ∝ n_g^α — the GPT-3/PaLM corpus-reweighting dial,
    downsampling-only and RNG-free. The oracle recomputes count →
    rate → integer-u-space hash compare row for row, so the driver
    value-checks every kept doc_id, not just the group totals."""
    from full_docker_etl_spark.operators.sampling import temperature_mix

    return temperature_mix(
        _docs(spark, sf_dir), "lang", "doc_id", alpha=0.5
    ).select("doc_id", "lang")


@query(
    "sample_temperature_upsample",
    oracle="""
      WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents
                      GROUP BY lang),
      rates AS (
        SELECT lang,
               CAST(FLOOR(r) AS INTEGER) AS base,
               CAST(FLOOR((r - FLOOR(r)) * 4294967296) AS BIGINT) AS fthr
        FROM (SELECT lang,
                     ROUND(POW(CAST(n AS DOUBLE)
                                 / (SELECT MAX(n) FROM counts),
                               -0.5), 6) AS r
              FROM counts)),
      expanded AS (
        SELECT d.doc_id, d.lang,
               base + CASE WHEN CAST(('0x' || substr(
                              md5('mix0:' || CAST(d.doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) < fthr
                           THEN 1 ELSE 0 END AS reps
        -- null-safe: a NULL lang is a real group (engine joins eqNullSafe)
        FROM documents d JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang)
      SELECT doc_id, lang,
             CAST(unnest(generate_series(1, reps)) AS INTEGER) AS rep
      FROM expanded
    """,
)
def sample_temperature_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The upsampling form of temperature mixing (α = 0.5 over lang):
    under-represented languages are REPEATED toward the ∝ n^α mix —
    floor(rate) deterministic copies plus one hash-gated extra — while
    the dominant language stays at exactly 1×. Replicas carry a rep
    ordinal so downstream shuffling/packing sees distinct keys. The
    oracle rebuilds count → rate → per-row repeat count → unnest, so
    the driver value-checks every emitted replica."""
    from full_docker_etl_spark.operators.sampling import temperature_upsample

    return temperature_upsample(
        _docs(spark, sf_dir), "lang", "doc_id", alpha=0.5
    ).select("doc_id", "lang", "rep")


@query(
    "sample_token_budget",
    oracle="""
      WITH d AS (SELECT source,
                        len(regexp_split_to_array(trim(text), '\\s+'))
                          AS ntok
                 FROM documents WHERE text IS NOT NULL),
      g AS (SELECT source, CAST(SUM(ntok) AS DOUBLE) AS avail
            FROM d GROUP BY source),
      t AS (SELECT source, avail,
                   SUM(avail) OVER () AS tot,
                   POW(avail, 0.5) / SUM(POW(avail, 0.5)) OVER () AS w
            FROM g),
      p AS (SELECT source, avail, w,
                   0.5 * tot * w AS target,
                   LEAST(2.0, 0.5 * tot * w / avail) AS epochs
            FROM t)
      SELECT source,
             CAST(avail AS BIGINT) AS avail_tokens,
             ROUND(w, 6) AS weight,
             ROUND(target, 4) AS target_tokens,
             ROUND(epochs, 6) AS epochs,
             ROUND(epochs * avail, 4) AS planned_tokens,
             ROUND(epochs * avail / SUM(epochs * avail) OVER (), 6)
               AS achieved_share
      FROM p
    """,
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-mixture PLANNER over per-source token counts (the
    LLaMA/GPT data-recipe table): α = 0.5 temperature weights, a
    budget of half the corpus's tokens, and a 2-epoch repetition cap.
    Complements sample_temperature_mix (which EXECUTES a row-level
    mix) by emitting the allocation itself — targets, epochs, planned
    tokens, and the post-cap achieved share a training run would
    consume. The oracle rebuilds the identical arithmetic from the
    same token counts, so the driver value-checks every allocation."""
    from full_docker_etl_spark.operators.sampling import token_budget_plan

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    with_tokens = docs.select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ntok"),
    )
    return token_budget_plan(
        with_tokens, "source", "ntok",
        budget_frac=0.5, alpha=0.5, max_epochs=2.0,
    )


@query(
    "sample_quota_per_source",
    oracle="""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn <= 20
    """,
)
def sample_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (≤20 docs/source, deterministic keep
    order) — the standard pretraining domain-rebalance. One shuffle on
    source; a hot source still emits only the quota."""
    from full_docker_etl_spark.operators.sampling import quota_per_group

    capped = quota_per_group(
        _docs(spark, sf_dir), ["source"], [("doc_id", True)], 20
    )
    return capped.select("doc_id", "source")


@query(
    "sample_epoch_shuffle",
    oracle="""
      SELECT doc_id, shard, pos FROM (
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
                    AS INTEGER) AS pos
        FROM (
          SELECT doc_id,
                 md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS k,
                 CAST(CAST(('0x' || substr(
                        md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 8 AS INTEGER) AS shard
          FROM documents
        )
      )
    """,
)
def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (operators/sampling.py
    epoch_shuffle): the training-order permutation as md5(seed||key)
    routing into 8 shards with per-shard positions — reproducible
    under task retry and portable (no rand(), no engine-private hash),
    which is exactly why the oracle can value-check the entire
    permutation. Per-shard windows, never one global sort: the
    100 TB shape is n_shards independent ordered writers."""
    from full_docker_etl_spark.operators.sampling import epoch_shuffle

    return epoch_shuffle(
        _docs(spark, sf_dir), "doc_id", seed="epoch0", n_shards=8
    ).select("doc_id", "shard", "pos")


@query(
    "dedup_pipeline",
    oracle=f"""
      WITH canon_ids AS (SELECT MIN(doc_id) AS doc_id
                         FROM documents GROUP BY sha256(text)),
      canon AS (SELECT d.doc_id, d.text, d.source, d.lang
                FROM documents d JOIN canon_ids USING (doc_id)),
      pairs AS ({_jaccard_pairs_sql("canon")})
      SELECT doc_id, source, lang FROM canon
      WHERE doc_id NOT IN (SELECT d2 FROM pairs)
    """,
)
def dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup as a user runs it: exact tier first (cheap
    hash groupBy keeps the min-id canonical of byte-identical copies),
    then the near-dup tier over the survivors only, then a greedy
    keep-lowest-id resolution (drop every d2 of a ≥0.8 Jaccard pair).
    The tier ordering is the 100 TB cost structure: the exact tier
    shrinks the corpus before any shingle work happens. Returns the
    final keep list."""
    docs = _docs(spark, sf_dir)
    canon_ids = exact_dedup(docs, "text", "doc_id").select(
        F.col("canonical_id").alias("doc_id")
    )
    canon = docs.join(canon_ids, "doc_id")
    pairs = jaccard_pairs(canon, "text", "doc_id", n=5, threshold=0.8, max_df=1000)
    drops = pairs.select(F.col("d2").alias("doc_id")).distinct()
    kept = canon.join(drops, "doc_id", "left_anti")
    return kept.select("doc_id", "source", "lang")


@query(
    "text_chunk_windows",
    oracle="""
      WITH t AS (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents WHERE text IS NOT NULL)
      SELECT doc_id,
             CAST((s - 1) // 16 AS INTEGER) AS chunk_id,
             CAST(s AS INTEGER) AS start_token,
             array_to_string(toks[s:s+23], ' ') AS chunk_text,
             CAST(least(24, len(toks) - s + 1) AS INTEGER) AS n_tokens
      FROM t, LATERAL unnest(generate_series(1, greatest(len(toks) - 8, 1), 16))
              AS g(s)
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 24-token windows, 8-token overlap.
    Windows are built inside the row (sequence → slice → concat); the
    only data movement is the explode. Every token is covered, the
    last window may be short, sub-window docs yield one chunk."""
    from full_docker_etl_spark.operators.text import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), "text", "doc_id", chunk_tokens=24, overlap=8
    )


@query(
    "sample_pack_sequences",
    oracle="""
      WITH t AS (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents WHERE text IS NOT NULL),
      chunks AS (
        SELECT doc_id,
               CAST((s - 1) // 16 AS INTEGER) AS chunk_id,
               CAST(least(24, len(toks) - s + 1) AS INTEGER) AS n_tokens,
               doc_id % 8 AS shard
        FROM t, LATERAL unnest(generate_series(1, greatest(len(toks) - 8, 1), 16))
                AS g(s)
      ),
      binned AS (
        -- DuckDB widens window SUM(INTEGER) to HUGEINT; the value hash
        -- is representation-sensitive across integer widths, so the
        -- output column must be pinned to BIGINT to match Spark's LONG
        -- (round-4 driver finding — values were identical).
        SELECT shard,
               CAST((SUM(n_tokens) OVER (PARTITION BY shard
                                    ORDER BY doc_id, chunk_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens) // 512 AS BIGINT) AS seq_bin,
               n_tokens
        FROM chunks
      )
      SELECT shard, seq_bin,
             COUNT(*) AS n_chunks,
             CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
      FROM binned GROUP BY 1, 2
    """,
)
def sample_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: chunk the corpus, then first-fit
    chunks in-order into ~512-token sequences WITHIN 8 shards (packing
    is inherently sequential, so the running sum windows per shard and
    shards pack in parallel — never a global single-partition window).
    Returns per-sequence chunk and token counts."""
    from full_docker_etl_spark.operators.sampling import pack_chunks
    from full_docker_etl_spark.operators.text import chunk_documents

    chunks = chunk_documents(
        _docs(spark, sf_dir), "text", "doc_id", chunk_tokens=24, overlap=8
    ).withColumn("shard", F.col("doc_id") % 8)
    packed = pack_chunks(
        chunks, "shard", [("doc_id", True), ("chunk_id", True)], "n_tokens", 512
    )
    return packed.groupBy("shard", "seq_bin").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
    )


@query(
    "sample_balanced_shards",
    oracle="""
      WITH d AS (SELECT doc_id,
                        len(regexp_split_to_array(trim(text), '\\s+'))
                          AS tokens
                 FROM documents WHERE text IS NOT NULL),
      c AS (SELECT doc_id, tokens,
                   SUM(tokens) OVER (ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM d)
      SELECT doc_id,
             CAST(tokens AS BIGINT) AS tokens,
             CAST(cum AS BIGINT) AS cum_weight,
             CAST(FLOOR((cum - tokens) / 30000) AS BIGINT) AS shard
      FROM c
    """,
)
def sample_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous TOKEN-balanced shard cuts over the id-ordered corpus
    (~30k tokens per shard) — the tokenizer-output sharding step, and
    the registry's demonstration of the two-level distributed prefix
    sum: per-id-range-bucket subtotals, an exclusive prefix over the
    ≤1024-row bucket frame (the only single-partition window, bounded
    by construction), broadcast offsets, per-bucket running windows.
    The ORACLE is the semantic spec — one naive global window — which
    DuckDB can afford at sf0.01; the engine plan must reproduce it
    with no rangepartitioning exchange (plan-gated). Every doc's
    inclusive cumulative weight and shard id are value-checked."""
    from full_docker_etl_spark.operators.sampling import balanced_shards

    d = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("long")
            .alias("tokens"),
        )
    )
    return balanced_shards(d, "doc_id", "tokens", target_weight=30000).select(
        "doc_id", "tokens", "cum_weight", "shard"
    )


@query(
    "dedup_components",
    oracle=f"""
      WITH RECURSIVE pairs AS ({_jaccard_pairs_sql("documents")}),
      sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
              UNION ALL
              SELECT d2, d1 FROM pairs),
      reach(node, r) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, w.r FROM sym s JOIN reach w ON s.dst = w.node
      )
      SELECT node, MIN(r) AS comp FROM reach GROUP BY node
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the ≥0.8-Jaccard near-dup graph —
    the exact duplicate-cluster resolution (transitive: a~b, b~c puts
    a,c in one cluster even if a,c never paired). Distributed
    min-label propagation with pointer doubling, O(log diameter)
    rounds; the DuckDB oracle computes the same labels via a
    recursive-CTE transitive closure, so the iterative algorithm is
    value-checked end to end."""
    from pyspark import StorageLevel

    from full_docker_etl_spark.operators.dedup import connected_components

    # persisted (the batch_arrival/arrival_policy idiom): CC's
    # symmetrizing union consumes `pairs` in both branches, and the
    # pair tier's final (d1,d2) reduce would otherwise run once per
    # branch — only the exchanges below it are reuse-deduplicated
    pairs = jaccard_pairs(
        _docs(spark, sf_dir), "text", "doc_id", n=5, threshold=0.8, max_df=1000
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return connected_components(pairs)


@query(
    "dedup_keep_longest",
    oracle=f"""
      WITH RECURSIVE pairs AS ({_jaccard_pairs_sql("documents")}),
      sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
              UNION ALL
              SELECT d2, d1 FROM pairs),
      reach(node, r) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, w.r FROM sym s JOIN reach w ON s.dst = w.node
      ),
      comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
      t AS (SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                        AS BIGINT) AS n_tokens
            FROM documents WHERE text IS NOT NULL),
      lab AS (SELECT t.doc_id,
                     COALESCE(c.comp, t.doc_id) AS comp,
                     t.n_tokens
              FROM t LEFT JOIN comp c ON t.doc_id = c.node)
      SELECT doc_id, comp, n_tokens
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY comp ORDER BY n_tokens DESC, doc_id) AS rn
            FROM lab)
      WHERE rn = 1
    """,
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution with a QUALITY policy — the step
    greedy min-id dedup skips: cluster the ≥0.8-Jaccard near-dup
    graph (transitive, via pointer-doubling CC), then keep the
    LONGEST member of each cluster (token count, id tie-break) —
    near-dup clusters usually hold one full document plus truncated
    or boilerplate-wrapped copies, and a training corpus wants the
    best copy, not the smallest id. Unpaired documents are singleton
    clusters and always kept. The oracle replays the whole pipeline
    portably: recursive-CTE closure + the same ROW_NUMBER resolution."""
    from pyspark import StorageLevel

    from full_docker_etl_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
        keep_best_per_cluster,
    )

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    # persisted: CC consumes `pairs` in both union branches (the
    # dedup_components rationale)
    pairs = jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.8, max_df=1000
    ).persist(StorageLevel.MEMORY_AND_DISK)
    comps = connected_components(pairs)
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    return keep_best_per_cluster(
        toks, comps, [F.col("n_tokens").desc()]
    ).select("doc_id", "comp", "n_tokens")


@query(
    "dedup_components_incremental",
    oracle=f"""
      WITH RECURSIVE pairs AS ({_jaccard_pairs_sql("documents")}),
      sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
              UNION ALL
              SELECT d2, d1 FROM pairs),
      reach(node, r) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, w.r FROM sym s JOIN reach w ON s.dst = w.node
      )
      SELECT node, MIN(r) AS comp FROM reach GROUP BY node
    """,
)
def dedup_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL duplicate-cluster refresh — the batch-arrival loop
    of an always-on corpus: the standing 90% of documents already
    carries component labels; the arriving 10% batch contributes only
    its batch-touching pairs, and
    :func:`~full_docker_etl_spark.operators.dedup.
    connected_components_incremental` folds them into the labels via
    the star compression (old components enter with diameter ≤ 2; the
    historical pair set is never re-read). The ORACLE is a
    recursive-CTE transitive closure over ALL pairs — the incremental
    path is value-checked equal to the from-scratch answer, which is
    exactly the operator's contract. Every pair either has both ends
    in the standing corpus or touches the batch, so the node universes
    coincide by construction."""
    from full_docker_etl_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
    )
    from full_docker_etl_spark.operators.util import fresh_checkpoint

    # one blocked pair pass feeds both the historical and the
    # batch-touching splits — fresh_checkpoint, not persist (r19: the
    # dedup_batch_arrival rationale — both CC loops re-PLAN the pair
    # pipeline under a persist). At 100 TB the splits instead come
    # from the persisted sketch store: labels are standing state, new
    # pairs are the store probe
    pairs = fresh_checkpoint(
        jaccard_pairs(
            _docs(spark, sf_dir), "text", "doc_id",
            n=5, threshold=0.8, max_df=1000,
        )
    )
    in_batch = [F.col(c) % 10 == 0 for c in ("d1", "d2")]
    standing = connected_components(
        pairs.where(~in_batch[0] & ~in_batch[1])
    )
    return connected_components_incremental(
        standing, pairs.where(in_batch[0] | in_batch[1])
    ).select("node", "comp")


@query(
    "dedup_batch_arrival",
    oracle=f"""
      WITH RECURSIVE pairs AS ({_jaccard_pairs_sql("documents")}),
      sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
              UNION ALL
              SELECT d2, d1 FROM pairs),
      reach(node, r) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, w.r FROM sym s JOIN reach w ON s.dst = w.node
      ),
      comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
      t AS (SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                        AS BIGINT) AS n_tokens,
                   doc_id % 10 = 0 AS is_new
            FROM documents WHERE text IS NOT NULL),
      lab AS (SELECT t.doc_id,
                     COALESCE(c.comp, t.doc_id) AS comp,
                     t.n_tokens, t.is_new
              FROM t LEFT JOIN comp c ON t.doc_id = c.node),
      res AS (SELECT *, (ROW_NUMBER() OVER (
                PARTITION BY comp ORDER BY n_tokens DESC, doc_id) = 1)
                AS kept
              FROM lab)
      SELECT doc_id, comp, n_tokens, is_new, kept
      FROM res
      WHERE comp IN (SELECT comp FROM res WHERE is_new)
    """,
)
def dedup_batch_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ALWAYS-ON batch-arrival capstone — the full incremental
    dedup serving loop composed end to end: new pairs from the
    arriving batch → incremental component-label refresh
    (:func:`~full_docker_etl_spark.operators.dedup.
    connected_components_incremental` — standing labels are a star
    compression of the old graph; the historical pair set is never
    re-read) → quality-policy cluster resolution (keep the longest
    member, id tie-break) — emitted for exactly the AFFECTED clusters
    (those containing a batch document, singletons included): which
    arriving documents to admit (``is_new AND kept``), which standing
    winners they displace (``NOT is_new AND NOT kept``), and which
    batch documents are duplicates to drop. The reference's
    incremental batch semantics (transform_iqplus_news_dags.py:71-85
    status-flag loop) at corpus-dedup scale.

    At 100 TB the batch-touching pairs come from the persisted sketch
    store probe (minhash_probe_store / containment_probe_store — the
    probe-fed composition is driver-checked by dedup_arrival_probe);
    here one blocked EXACT pair pass feeds both splits so the ORACLE
    can replay the whole loop portably: recursive-CTE closure over ALL
    pairs + the same ROW_NUMBER resolution, restricted to
    batch-touching clusters — value-checking that incremental refresh
    + resolution equals the from-scratch answer on the affected set.
    The resolution policy is pluggable (operators/dedup.py
    resolve_arrival); dedup_arrival_policy pins the scored variant."""
    from full_docker_etl_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
        resolve_arrival,
    )
    from full_docker_etl_spark.operators.util import fresh_checkpoint

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    # fresh_checkpoint, not persist (r19): the pair set feeds BOTH CC
    # loops (standing + incremental), and with a persist every eager
    # CC-round plan still carries the full posting-list pair pipeline
    # — profiled as pure driver-planning gaps; the checkpoint cuts
    # every downstream plan to a LogicalRDD at the same single
    # materialization cost.
    pairs = fresh_checkpoint(
        jaccard_pairs(docs, "text", "doc_id", n=5, threshold=0.8, max_df=1000)
    )
    in_batch = [F.col(c) % 10 == 0 for c in ("d1", "d2")]
    standing = connected_components(
        pairs.where(~in_batch[0] & ~in_batch[1])
    )
    labels = connected_components_incremental(
        standing, pairs.where(in_batch[0] | in_batch[1])
    )
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
        (F.col("doc_id") % 10 == 0).alias("is_new"),
    )
    return resolve_arrival(
        toks, labels, [F.col("n_tokens").desc()]
    ).select("doc_id", "comp", "n_tokens", "is_new", "kept")


@query(
    "dedup_keep_best",
    oracle=f"""
      WITH RECURSIVE pairs AS ({_jaccard_pairs_sql("documents")}),
      sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
              UNION ALL
              SELECT d2, d1 FROM pairs),
      reach(node, r) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, w.r FROM sym s JOIN reach w ON s.dst = w.node
      ),
      comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
      qt AS (SELECT doc_id,
                    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                    regexp_split_to_array(trim(text), '\\s+') AS toks
             FROM documents WHERE text IS NOT NULL),
      qtok AS (SELECT * FROM (SELECT doc_id, y, unnest(toks) AS w FROM qt)
               WHERE len(w) > 0),
      cw AS (SELECT w, SUM(y) AS c_pos, COUNT(*) - SUM(y) AS c_neg
             FROM qtok GROUP BY w),
      tots AS (SELECT SUM(y) AS tot_pos, COUNT(*) - SUM(y) AS tot_neg,
                      COUNT(DISTINCT w) AS v
               FROM qtok),
      prior AS (SELECT ln((SUM(y) + 1.0) / (COUNT(*) - SUM(y) + 1.0)) AS lp
                FROM qt),
      odds AS (SELECT w,
                      ln((c_pos + 1.0) / (tot_pos + v))
                        - ln((c_neg + 1.0) / (tot_neg + v)) AS lo
               FROM cw CROSS JOIN tots),
      score AS (SELECT qtok.doc_id,
                       ROUND(SUM(lo) + ANY_VALUE(lp), 4) AS log_odds
                FROM qtok JOIN odds USING (w) CROSS JOIN prior
                GROUP BY qtok.doc_id),
      lab AS (SELECT s.doc_id, COALESCE(c.comp, s.doc_id) AS comp,
                     s.log_odds
              FROM score s LEFT JOIN comp c ON s.doc_id = c.node)
      SELECT doc_id, comp, log_odds
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY comp ORDER BY log_odds DESC, doc_id) AS rn
            FROM lab)
      WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution under a PLUGGABLE SCORED policy —
    the FineWeb/CCNet-style "keep the best copy, not the longest":
    :func:`~full_docker_etl_spark.operators.dedup.
    keep_best_per_cluster` orders each near-dup cluster by an
    arbitrary quality score, here the TRAINED Naive-Bayes log-odds
    from the quality tier (the text_quality_classifier model —
    add-1 multinomial NB seeded with lang='en' as the target domain),
    so dedup resolution composes with quality scoring instead of the
    length heuristic (``dedup_keep_longest`` stays the default
    policy; this row pins the scored path). Ties in the 4-dp-rounded
    score break by doc_id, keeping the winner deterministic and
    oracle-checkable. The oracle replays the ENTIRE composition
    portably: the recursive-CTE closure over all pairs + the
    retrained-in-SQL classifier + the same ROW_NUMBER resolution."""
    from pyspark import StorageLevel

    from full_docker_etl_spark.operators.dedup import (
        connected_components,
        keep_best_per_cluster,
    )
    from full_docker_etl_spark.operators.text import nb_quality_classifier

    docs = _docs(spark, sf_dir)
    # persisted: CC consumes `pairs` in both union branches (the
    # dedup_components rationale)
    pairs = jaccard_pairs(
        docs, "text", "doc_id", n=5, threshold=0.8, max_df=1000
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # The CC label loop (eager checkpoint rounds, latency-bound) and
    # the NB training/scoring pipeline (compute-bound, consumed only
    # by the final resolution join) are independent until that join —
    # run them from two threads (guide §2.6, the dedup_arrival_probe
    # 6a shape: the NB subtree executed exactly once either way, so
    # the eager checkpoint adds no extra pass, and its jobs back-fill
    # the CC rounds' driver gaps).
    from full_docker_etl_spark.operators.util import (
        concurrently,
        fresh_checkpoint,
    )

    def _scored():
        return fresh_checkpoint(
            nb_quality_classifier(
                docs.withColumn("y", (F.col("lang") == "en").cast("int")),
                "text", "doc_id", "y",
            ).select("doc_id", "log_odds")
        )

    comps, scored = concurrently(lambda: connected_components(pairs), _scored)
    return keep_best_per_cluster(
        scored, comps, [F.col("log_odds").desc()]
    ).select("doc_id", "comp", "log_odds")


@query(
    "dedup_arrival_policy",
    oracle=f"""
      WITH RECURSIVE pairs AS ({_jaccard_pairs_sql("documents")}),
      sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
              UNION ALL
              SELECT d2, d1 FROM pairs),
      reach(node, r) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, w.r FROM sym s JOIN reach w ON s.dst = w.node
      ),
      comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
      qt AS (SELECT doc_id,
                    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                    regexp_split_to_array(trim(text), '\\s+') AS toks
             FROM documents WHERE text IS NOT NULL),
      qtok AS (SELECT * FROM (SELECT doc_id, y, unnest(toks) AS w FROM qt)
               WHERE len(w) > 0),
      cw AS (SELECT w, SUM(y) AS c_pos, COUNT(*) - SUM(y) AS c_neg
             FROM qtok GROUP BY w),
      tots AS (SELECT SUM(y) AS tot_pos, COUNT(*) - SUM(y) AS tot_neg,
                      COUNT(DISTINCT w) AS v
               FROM qtok),
      prior AS (SELECT ln((SUM(y) + 1.0) / (COUNT(*) - SUM(y) + 1.0)) AS lp
                FROM qt),
      odds AS (SELECT w,
                      ln((c_pos + 1.0) / (tot_pos + v))
                        - ln((c_neg + 1.0) / (tot_neg + v)) AS lo
               FROM cw CROSS JOIN tots),
      score AS (SELECT qtok.doc_id,
                       ROUND(SUM(lo) + ANY_VALUE(lp), 4) AS log_odds
                FROM qtok JOIN odds USING (w) CROSS JOIN prior
                GROUP BY qtok.doc_id),
      lab AS (SELECT s.doc_id, COALESCE(c.comp, s.doc_id) AS comp,
                     s.log_odds, s.doc_id % 10 = 0 AS is_new
              FROM score s LEFT JOIN comp c ON s.doc_id = c.node),
      res AS (SELECT *, (ROW_NUMBER() OVER (
                PARTITION BY comp ORDER BY log_odds DESC, doc_id) = 1)
                AS kept
              FROM lab)
      SELECT doc_id, comp, log_odds, is_new, kept
      FROM res
      WHERE comp IN (SELECT comp FROM res WHERE is_new)
    """,
)
def dedup_arrival_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-arrival capstone under the SCORED resolution policy —
    ``dedup_batch_arrival``'s loop (new pairs → incremental
    component-label refresh → cluster resolution on the affected
    clusters) with the keep-longest heuristic swapped for the TRAINED
    Naive-Bayes quality log-odds (``dedup_keep_best``'s policy),
    through the same pluggable :func:`~full_docker_etl_spark.
    operators.dedup.resolve_arrival` operator: admit/displace/drop
    decisions now follow "keep the best copy", the FineWeb-shaped
    serving loop end to end. Emits every member of every
    batch-touching cluster with its score and the kept flag. The
    oracle replays the ENTIRE composition portably: recursive-CTE
    closure + the classifier retrained in SQL + the same ROW_NUMBER
    resolution, restricted to affected clusters."""
    from full_docker_etl_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
        resolve_arrival,
    )
    from full_docker_etl_spark.operators.text import nb_quality_classifier
    from full_docker_etl_spark.operators.util import (
        concurrently,
        fresh_checkpoint,
    )

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    # fresh_checkpoint, not persist: the dedup_batch_arrival rationale
    # (both CC loops re-PLAN the pair pipeline under a persist)
    pairs = fresh_checkpoint(
        jaccard_pairs(docs, "text", "doc_id", n=5, threshold=0.8, max_df=1000)
    )
    in_batch = [F.col(c) % 10 == 0 for c in ("d1", "d2")]

    # CC refresh chain (eager, latency-bound) overlapped with the NB
    # training/scoring pipeline (compute-bound, consumed only by the
    # final resolution) — the dedup_keep_best rationale.
    def _labels():
        standing = connected_components(
            pairs.where(~in_batch[0] & ~in_batch[1])
        )
        return connected_components_incremental(
            standing, pairs.where(in_batch[0] | in_batch[1])
        )

    def _scored():
        return fresh_checkpoint(
            nb_quality_classifier(
                docs.withColumn("y", (F.col("lang") == "en").cast("int")),
                "text", "doc_id", "y",
            ).select(
                "doc_id", "log_odds",
                (F.col("doc_id") % 10 == 0).alias("is_new"),
            )
        )

    labels, scored = concurrently(_labels, _scored)
    return resolve_arrival(
        scored, labels, [F.col("log_odds").desc()]
    ).select("doc_id", "comp", "log_odds", "is_new", "kept")


@query(
    "dedup_arrival_probe",
    oracle=f"""
      WITH pairs AS (
        {_jaccard_pairs_sql(_MINHASH_SLICE_SQL)}
      )
      SELECT COUNT(*) AS n_exact, TRUE AS pair_recall_ok,
             TRUE AS no_false_drops, TRUE AS drop_recall_ok
      FROM pairs WHERE d1 % 10 = 0 OR d2 % 10 = 0
    """,
)
def dedup_arrival_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-arrival loop FED FROM THE PERSISTED SKETCH STORE —
    the true 100 TB serving composition, driver-checked as a verdict
    row: the standing corpus lands in a MinHash store (build + append
    — the real admission loop), the arriving batch PROBES it
    (batch×store and batch×batch candidates only; store×store never
    regenerated), candidates pass EXACT-Jaccard verification
    (:func:`~full_docker_etl_spark.operators.dedup.
    jaccard_verify_pairs` — computed on candidates only, so sketch
    false positives die before clustering), and the verified pairs
    drive incremental component refresh + keep-longest resolution.
    Judged against the EXACT-pair arrival loop (dedup_batch_arrival's
    semantics on the same judge slice):

    - ``pair_recall_ok``: the store probe finds ≥90% of the exact
      ≥0.8-Jaccard batch-touching pairs (whose count ``n_exact`` the
      oracle recomputes portably);
    - ``no_false_drops``: every document the probe-fed loop drops is
      also dropped by the exact loop — on the judge slice this is
      guaranteed by construction: the slice is bounded (~625 docs)
      below jaccard_pairs' max_df cap at ANY corpus size, so the
      blocked exact measure and the raw verify measure coincide and
      verified pairs are a strict SUBSET of exact pairs (probe
      clusters only fragment exact clusters; each fragment winner is
      beaten by the exact winner too). On a cap-active corpus the raw
      verify can admit boilerplate-only pairs the blocked measure
      attenuates — pass ``rare`` to jaccard_verify_pairs there (see
      its measure contract); a violation HERE means the verify step
      admitted a false pair;
    - ``drop_recall_ok``: the probe-fed loop performs ≥90% of the
      exact loop's drops (missed pairs can only leave extra fragment
      winners standing).

    A store-format, probe-join, verify, incremental-CC or resolution
    regression flips a boolean red."""
    import tempfile

    from full_docker_etl_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
        jaccard_verify_pairs,
        minhash_probe_store,
        minhash_store_append,
        minhash_store_build,
        resolve_arrival,
    )
    from full_docker_etl_spark.operators.util import (
        concurrently,
        fresh_checkpoint,
    )

    docs = _judge_slice(_docs(spark, sf_dir), memo_key=sf_dir)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    standing_docs = docs.where(F.col("doc_id") % 10 != 0)
    path = tempfile.mkdtemp(prefix="fde_mharr_") + "/store"
    in_batch = [F.col(c) % 10 == 0 for c in ("d1", "d2")]

    # The store chain (build + append: four sequential writes plus
    # manifest I/O) and the exact-tier chain (blocked pair pass +
    # standing-component CC, an eager checkpoint loop) are independent
    # until the label refreshes below consume both; each is a run of
    # sub-second jobs separated by driver-side planning gaps, so two
    # threads overlap the latencies (guide §2.6). The rule for such an
    # overlap: the exact side ends in a CHECKPOINTED pair set, the one
    # pass its consumers need anyway, never in persist+count — that
    # runs the pair pipeline in an extra counting action and leaves
    # every consumer planning through it (measured net-negative, see
    # OPTIMIZATION_r18.md). The recall composites overlap the same way.
    def _store_side():
        minhash_store_build(
            standing_docs.where(F.col("doc_id") % 2 == 0),
            path, "text", "doc_id",
        )
        minhash_store_append(
            standing_docs.where(F.col("doc_id") % 2 == 1),
            path, "text", "doc_id",
        )

    def _exact_side():
        # fresh_checkpoint, not persist (r19): the pair set feeds the
        # standing CC, the exact-fed refresh and the closing stats —
        # a persist caches the DATA but every consumer still PLANS
        # through the full posting-list pair pipeline (profiled as a
        # ~1.1 s pure driver-planning gap before the refresh burst);
        # the checkpoint's LogicalRDD makes each downstream plan tiny.
        exact_all = fresh_checkpoint(
            jaccard_pairs(
                docs, "text", "doc_id", n=5, threshold=0.8, max_df=1000
            )
        )
        return exact_all, connected_components(
            exact_all.where(~in_batch[0] & ~in_batch[1])
        )

    _, (exact_all, standing_labels) = concurrently(_store_side, _exact_side)
    cand = minhash_probe_store(
        batch, path, "text", "doc_id", threshold=0.5
    ).select(
        F.least("d1", "d2").alias("d1"),
        F.greatest("d1", "d2").alias("d2"),
    )
    # fresh_checkpoint, not persist (r19): the verified pair set seeds
    # the probe-fed label refresh AND re-enters the final pair_stats
    # join — a persist would compute it once but leave the full
    # probe-join + verify subtree in every consumer's logical plan
    # (driver planning, profiled as the query's largest gaps); the
    # eager checkpoint cuts all downstream plans to a LogicalRDD and
    # materializes nothing extra (the refresh's own sym checkpoint
    # would have materialized it immediately anyway)
    verified = fresh_checkpoint(
        jaccard_verify_pairs(
            docs, cand, "text", "doc_id", n=5, threshold=0.8
        ).select("d1", "d2")
    )
    exact_batch = exact_all.where(in_batch[0] | in_batch[1]).select(
        "d1", "d2"
    )
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
        (F.col("doc_id") % 10 == 0).alias("is_new"),
    )
    order = [F.col("n_tokens").desc()]

    # The probe-fed and exact-fed label refreshes are independent
    # eager loops over the SAME materialized standing labels — their
    # per-round cost is fixed scheduling latency, not CPU, so running
    # them from two threads overlaps the latencies instead of summing
    # them (optimization guide §2.6: overlap independent jobs).
    def _drops(pairs):
        return (
            resolve_arrival(
                toks,
                connected_components_incremental(standing_labels, pairs),
                order,
            )
            .where(~F.col("kept"))
            .select("doc_id")
        )

    probe_drops, exact_drops = concurrently(
        lambda: _drops(verified), lambda: _drops(exact_batch)
    )
    pair_stats = (
        exact_batch.join(
            verified.withColumn("_hit", F.lit(1)), ["d1", "d2"], "left"
        )
        .agg(
            F.count(F.lit(1)).alias("_n_exact"),
            F.count("_hit").alias("_n_found"),
        )
    )
    drop_stats = (
        exact_drops.withColumn("_e", F.lit(1))
        .join(
            probe_drops.withColumn("_p", F.lit(1)), "doc_id", "full_outer"
        )
        .agg(
            F.count("_e").alias("_n_ed"),
            F.count(F.when(F.col("_e").isNotNull() & F.col("_p").isNotNull(), 1))
            .alias("_n_both"),
            F.count(F.when(F.col("_e").isNull() & F.col("_p").isNotNull(), 1))
            .alias("_n_false"),
        )
    )
    # two one-row scalar frames: broadcast nested-loop of single rows,
    # the classifier-scalar pattern the plan gate permits
    return pair_stats.crossJoin(drop_stats).select(
        F.col("_n_exact").cast("long").alias("n_exact"),
        (F.col("_n_found") >= F.lit(0.9) * F.col("_n_exact")).alias(
            "pair_recall_ok"
        ),
        (F.col("_n_false") == 0).alias("no_false_drops"),
        (F.col("_n_both") >= F.lit(0.9) * F.col("_n_ed")).alias(
            "drop_recall_ok"
        ),
    )


@query("ann_ivf_kmeans_topk")
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat with TRAINED centroids: 3 Lloyd's rounds trained
    driver-side on a bounded hash-spread sample (the FAISS
    convention — training cost constant in corpus size; the corpus
    pays ONE distributed assignment pass for true membership), then
    the same inverted-list probe as ann_ivf_topk. On corpora without
    a convenient id-ordered sample, training is what keeps lists
    balanced (cluster sizes here come out within ~1.3x of each other
    vs the luck of the sample). Rows-only; determinism and recall
    floor pinned in tests/test_llm.py."""
    from full_docker_etl_spark.operators.similarity import kmeans_centroids

    queries, corpus = _ann_query_corpus(spark, sf_dir)
    cents = kmeans_centroids(corpus, "embedding", "vec_id", k=16, max_iter=3)
    return ivf_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=6, centroids=cents,
        n_assign=2,
    )


@query(
    "text_repetition",
    oracle="""
      WITH t AS (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents),
      g AS (SELECT doc_id,
                   [array_to_string(toks[i:i+1], ' ')
                    FOR i IN generate_series(1, greatest(len(toks) - 1, 0))]
                     AS grams
            FROM t)
      SELECT doc_id,
             CASE WHEN len(grams) > 0
                  THEN ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                                   / len(grams), 4)
                  ELSE 0.0 END AS rep_ratio
      FROM g
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition ratio (1 − distinct/total word
    bigrams) — the boilerplate/looped-template signal every corpus
    quality filter carries; bigrams because the synthetic corpus's
    natural repetition lives there (349/500 docs non-zero at sf0.01,
    ~none at trigrams — a flat-zero column would verify nothing).
    In-row array expressions only; the explicit spread exists because
    the docs table arrives as ONE scan partition at test scale and the
    CPU-bound gram work would otherwise serialize on a single core."""
    from full_docker_etl_spark.operators.util import spread

    return spread(_docs(spark, sf_dir)).select(
        "doc_id", tx.repetition_ratio(F.col("text"), n=2).alias("rep_ratio")
    )


@query(
    "text_decontaminate",
    oracle="""
      WITH t AS (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents),
      sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
             FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-4, 0))) AS i) g),
      bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
      corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0)
      SELECT doc_id, COUNT(*) AS n_hits
      FROM corp JOIN bench USING (shingle)
      GROUP BY 1
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 5-gram with
    the held-out 'benchmark' slice (every 97th doc stands in for a
    test set), with the count of distinct overlapping n-grams.
    Anti-join the result to clean the corpus. The benchmark n-gram set
    is tiny and broadcasts; corpus shingles never shuffle."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return tx.contamination_hits(corpus, bench, "text", "doc_id", n=5)


@query(
    "profile_source_quality",
    oracle="""
      WITH t AS (SELECT doc_id, source,
                        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents WHERE text IS NOT NULL),
      tok AS (SELECT * FROM (SELECT doc_id, y, unnest(toks) AS w FROM t)
              WHERE len(w) > 0),
      cw AS (SELECT w, SUM(y) AS c_pos, COUNT(*) - SUM(y) AS c_neg
             FROM tok GROUP BY w),
      tots AS (SELECT SUM(y) AS tot_pos, COUNT(*) - SUM(y) AS tot_neg,
                      COUNT(DISTINCT w) AS v
               FROM tok),
      prior AS (SELECT ln((SUM(y) + 1.0) / (COUNT(*) - SUM(y) + 1.0)) AS lp
                FROM t),
      odds AS (SELECT w,
                      ln((c_pos + 1.0) / (tot_pos + v))
                        - ln((c_neg + 1.0) / (tot_neg + v)) AS lo
               FROM cw CROSS JOIN tots),
      sc AS (SELECT tok.doc_id,
                    ROUND(SUM(lo) + ANY_VALUE(lp), 4) AS log_odds
             FROM tok JOIN odds USING (w) CROSS JOIN prior
             GROUP BY tok.doc_id)
      SELECT t.source,
             COUNT(*) AS n_docs,
             ROUND(CAST(SUM(CASE WHEN sc.log_odds > 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*), 6) AS pos_share,
             quantile_disc(sc.log_odds, 0.1) AS p10,
             quantile_disc(sc.log_odds, 0.5) AS p50,
             quantile_disc(sc.log_odds, 0.9) AS p90
      FROM t JOIN sc USING (doc_id)
      GROUP BY t.source
    """,
)
def profile_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation ANALYTICS: the trained classifier's score distribution
    per source — predicted-positive share and p10/p50/p90 of the
    log-odds — the which-domains-are-low-quality report that decides
    blocklists and per-source quotas (CCNet publishes exactly this
    table per dump). Percentiles are NEAREST-RANK (quantile_disc) over
    the ROUNDED scores: each reported p10/p50/p90 is an attained 4-dp
    score, bit-exact in any engine (interpolation over grid-spaced
    inputs can land on a rounding midpoint where 1 ulp flips the
    digit) — and they are computed from per-(source, score) value
    counts (grouped_percentiles_from_counts), not Spark's
    buffer-everything ``percentile`` aggregate: one hot source at
    100 TB would OOM an ObjectHashAggregate, while the count-based
    form keeps state at O(distinct 4-dp scores per source). pos_share
    and n_docs ride the same value-count frame, so the whole report is
    one count shuffle plus one small per-source window.
    Composes nb_train/nb_score with the same seed the standalone
    classifier query pins."""
    from full_docker_etl_spark.operators.profile import (
        grouped_percentiles_from_counts,
    )
    from full_docker_etl_spark.operators.text import nb_score, nb_train

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    model = nb_train(
        docs.withColumn("y", (F.col("lang") == "en").cast("int")),
        "text",
        "y",
    )
    scored = nb_score(docs, "text", "doc_id", *model)
    joined = docs.select("doc_id", "source").join(scored, "doc_id")
    # ONE scoring pass: the (source, score) value-count frame feeds
    # both the exact percentiles and the positive-share/doc counts
    vc = joined.groupBy("source", "log_odds").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # DISCRETE (nearest-rank) percentiles: the reported p10/p50/p90
    # are attained 4-dp scores, bit-exact in any engine. Interpolation
    # over 4-dp-grid inputs can land exactly on a 5e-5 rounding
    # midpoint (frac 0.5 x one grid step), where a 1-ulp cross-engine
    # difference flips the rounded digit — the class the 10x sweep
    # caught on curate_adaptive_cutoff.
    pcts = grouped_percentiles_from_counts(
        vc, "source", "log_odds", "cnt",
        {"p10": 0.1, "p50": 0.5, "p90": 0.9},
        discrete=True,
    )
    shares = vc.groupBy("source").agg(
        F.round(
            F.sum(F.when(F.col("log_odds") > 0, F.col("cnt")).otherwise(0))
            .cast("double")
            / F.sum("cnt"),
            6,
        ).alias("pos_share"),
    )
    return pcts.join(shares, "source").select(
        "source",
        F.col("n").alias("n_docs"),
        "pos_share",
        "p10",
        "p50",
        "p90",
    )


@query(
    "audit_split_contamination",
    oracle="""
      WITH t AS (SELECT doc_id,
                        regexp_split_to_array(trim(text), '\\s+') AS toks
                 FROM documents),
      sh AS (SELECT DISTINCT doc_id,
                    array_to_string(toks[i:i+4], ' ') AS shingle
             FROM t, LATERAL (SELECT unnest(generate_series(
                        1, greatest(len(toks)-4, 0))) AS i) g),
      bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
      corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
      hits AS (SELECT doc_id, COUNT(*) AS n_hits
               FROM corp JOIN bench USING (shingle) GROUP BY 1),
      sp AS (SELECT doc_id,
                    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                              <= 'b' THEN 'train'
                         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                              IN ('c','d') THEN 'val'
                         ELSE 'test' END AS split
             FROM documents WHERE doc_id % 97 <> 0)
      SELECT sp.split,
             COUNT(*) AS n_docs,
             COUNT(hits.doc_id) AS n_contaminated,
             CAST(COALESCE(SUM(hits.n_hits), 0) AS BIGINT) AS n_hits,
             ROUND(CAST(COUNT(hits.doc_id) AS DOUBLE) / COUNT(*), 6)
               AS contamination_rate
      FROM sp LEFT JOIN hits USING (doc_id)
      GROUP BY sp.split
    """,
)
def audit_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RELEASE-GATE audit every training-data drop runs before
    shipping: per train/val/test split, how many docs share any
    5-gram with the held-out benchmark slice, total overlapping
    n-grams, and the contamination rate — decontamination
    (text_decontaminate) tells you WHICH docs leak; this tells you
    whether a SPLIT is shippable. Composes the same contamination and
    hash-split operators their standalone queries pin; the oracle
    replays both plus the rollup, value-checking the gate numbers."""
    from full_docker_etl_spark.operators.sampling import hash_split

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    hits = tx.contamination_hits(corpus, bench, "text", "doc_id", n=5)
    split = hash_split(corpus, "doc_id").select("doc_id", "split")
    joined = split.join(hits, "doc_id", "left")
    return joined.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("n_hits").alias("n_contaminated"),
        F.coalesce(F.sum("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(
            F.count("n_hits").cast("double") / F.count(F.lit(1)), 6
        ).alias("contamination_rate"),
    )


@query(
    "text_bm25",
    oracle="""
      WITH toks AS (SELECT doc_id, term FROM (
                      SELECT doc_id,
                             unnest(regexp_split_to_array(trim(text), '\\s+'))
                               AS term
                      FROM documents)
                    WHERE term <> ''),  -- engine drops the '' pseudo-token
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
      nd AS (SELECT COUNT(*) AS n FROM documents),
      ad AS (SELECT AVG(dl) AS avgdl FROM dl),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
             WHERE term IN ('data', 'window', 'batch') GROUP BY 1, 2),
      dft AS (SELECT term, COUNT(*) AS dft FROM tf GROUP BY 1)
      SELECT doc_id, ROUND(SUM(ROUND(
               ln(1 + (n - dft + 0.5) / (dft + 0.5))
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)),
             4)), 4) AS score
      FROM tf JOIN dft USING (term) JOIN dl USING (doc_id)
      CROSS JOIN nd CROSS JOIN ad
      GROUP BY doc_id
      ORDER BY score DESC, doc_id ASC
      LIMIT 10
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus (query: data ∪ window ∪
    batch, k1=1.2, b=0.75): Okapi tf saturation + length normalization,
    posting lists filtered to the query terms before any aggregation —
    the search-engine serving shape, value-checked rank for rank."""
    from full_docker_etl_spark.operators.text import bm25_search

    return bm25_search(
        _docs(spark, sf_dir), "text", "doc_id",
        ["data", "window", "batch"], top_k=10,
    )


@query(
    "sample_negatives",
    oracle="""
      WITH n AS (SELECT COUNT(*) AS n_rows FROM documents),
      drawn AS (
        SELECT doc_id, rank AS neg_rank,
               CAST(('0x' || substr(md5('neg0:' || CAST(doc_id AS VARCHAR)
                                        || ':' || CAST(rank AS VARCHAR)),
                                    1, 8)) AS BIGINT) % n_rows AS cand,
               n_rows
        FROM documents
        CROSS JOIN n
        CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS rank))
      SELECT doc_id, CAST(neg_rank AS INTEGER) AS neg_rank,
             CASE WHEN cand = doc_id THEN (cand + 1) % n_rows
                  ELSE cand END AS neg_id
      FROM drawn
    """,
)
def sample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling (k=4 per anchor) for
    contrastive/embedding training: md5-derived draws over the dense
    id space, self-collisions shifted — one map-local pass, zero
    shuffle, zero RNG, and the oracle recomputes every single draw.
    Pairs with ann_* for hard negatives; this is the uniform tier."""
    from full_docker_etl_spark.operators.sampling import negative_samples

    docs = _docs(spark, sf_dir)
    n = docs.count()
    return negative_samples(docs, "doc_id", n_rows=n, k=4)


@query(
    "mm_frame_sample",
    oracle="""
      WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
      f AS (SELECT doc_id, hx,
                   CAST(length(hx) // 64 AS INTEGER) AS n_frames
            FROM b),
      idx AS (SELECT doc_id, n_frames,
                     CAST(unnest(list_slice(
                            generate_series(0, n_frames - 1, 4), 1, 5))
                          AS INTEGER) AS frame_idx,
                     hx
              FROM f WHERE n_frames > 0)
      SELECT doc_id, frame_idx, n_frames,
             md5(substring(hx, frame_idx * 64 + 1, 64)) AS frame_md5
      FROM idx
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided frame sampling over video-shaped payloads (every 4th
    32-byte frame, ≤5 per doc): variable-fan-out mapInPandas — the
    exact plumbing an ffmpeg-backed sampler needs — with every emitted
    frame's checksum recomputed by the oracle from the payload hex, so
    the fan-out logic AND the per-frame bytes are value-checked."""
    from full_docker_etl_spark.operators.multimodal import (
        documents_as_binary,
        sample_frames,
    )

    payloads = documents_as_binary(_docs(spark, sf_dir))
    return sample_frames(payloads, "doc_id", "payload")


@query(
    "mm_features",
    oracle="""
      SELECT doc_id,
             8 AS dim,
             CAST(('0x' || substr(md5(text), 1, 2)) AS BIGINT) / 255.0 AS v0,
             CAST(('0x' || substr(md5(text), 7, 2)) AS BIGINT) / 255.0 AS v3,
             CAST(('0x' || substr(md5(text), 15, 2)) AS BIGINT) / 255.0 AS v7
      FROM documents
    """,
)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction from opaque payloads (the CLIP/wav2vec
    plumbing: per-worker model handle, Arrow batches in, fixed-dim
    vectors out); the stub derives elements from the payload digest so
    the oracle recomputes sampled vector elements exactly — swap in a
    real model and drop the oracle, nothing else moves. The output
    array feeds the ANN operators directly (composition pinned in
    tests/test_llm.py)."""
    from full_docker_etl_spark.operators.multimodal import (
        documents_as_binary,
        extract_features,
    )

    feats = extract_features(
        documents_as_binary(_docs(spark, sf_dir)), "doc_id", "payload"
    )
    return feats.select(
        "doc_id",
        F.size("features").alias("dim"),
        F.element_at("features", 1).alias("v0"),
        F.element_at("features", 4).alias("v3"),
        F.element_at("features", 8).alias("v7"),
    )


@query(
    "mm_resize",
    oracle="""
      WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
                        CAST(octet_length(encode(text)) AS INTEGER) AS n
                 FROM documents),
      s AS (SELECT doc_id, hx, n, GREATEST(1, n // 64) AS stride FROM b),
      sel AS (SELECT doc_id, n, stride,
                     CAST(unnest(list_slice(
                            generate_series(0, n - 1, stride), 1, 64))
                          AS INTEGER) AS i,
                     hx
              FROM s),
      agg AS (SELECT doc_id, n,
                     string_agg(substr(hx, i * 2 + 1, 2), '' ORDER BY i)
                       AS sel_hex
              FROM sel GROUP BY 1, 2)
      SELECT doc_id, n AS in_bytes,
             CAST(length(sel_hex) / 2 AS INTEGER) AS out_bytes,
             md5(sel_hex) AS resized_md5
      FROM agg
    """,
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload RESIZE (strided downsample to ≤64 bytes, the PIL-resize
    stand-in): 1:1 Arrow-batched map with the oracle recomputing the
    exact selected bytes from the payload hex — size arithmetic AND
    content checksums value-checked per document."""
    from full_docker_etl_spark.operators.multimodal import (
        documents_as_binary,
        resize_payloads,
    )

    return resize_payloads(
        documents_as_binary(_docs(spark, sf_dir)), "doc_id", "payload"
    )


@query("text_compression")
def text_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zlib compression-ratio quality signal per document —
    boilerplate/template spam scores low where token-level
    repetition_ratio can miss character-level patterns. Rows-only by
    design (no SQL engine compresses); its value checks are the
    oracle-checked verdict sibling text_compression_verdict, per the
    repo's sketch-sibling convention."""
    return tx.compression_features(_docs(spark, sf_dir)).select(
        "doc_id",
        F.round("comp_ratio", 4).alias("comp_ratio"),
        F.round("comp_ratio_2x", 4).alias("comp_ratio_2x"),
    )


@query(
    "text_compression_verdict",
    oracle="""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             TRUE AS in_range_ok,
             TRUE AS marginal_ok
      FROM documents
    """,
)
def text_compression_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Externally-checked VERDICT for the compression signal: n_docs
    is the portable corpus count (oracle-recomputed); in_range_ok pins
    every ratio into (0, 1.2] (zlib stream overhead can push tiny
    texts slightly over 1 — a ratio of 0 or 3 means a broken UDF;
    empty/NULL texts carry NULL ratios by contract and F.min skips
    them, so a future corpus with empty documents cannot flip the
    verdict red over stream-overhead arithmetic);
    marginal_ok pins the compressor-correctness invariant on every
    document ≥50 raw bytes: compress(text+text) costs strictly less
    per byte than compress(text), because a correct LZ77 window prices
    the second copy as one back-reference. A UDF emitting constants,
    truncating input, or double-counting bytes flips a boolean and
    fails the driver's hash compare."""
    feats = tx.compression_features(_docs(spark, sf_dir)).join(
        _docs(spark, sf_dir).select("doc_id", F.length("text").alias("_len")),
        "doc_id",
    )
    return feats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(
            (F.col("comp_ratio") > 0) & (F.col("comp_ratio") <= 1.2)
        ).alias("in_range_ok"),
        F.min(
            F.when(
                F.col("_len") >= 50,
                F.col("comp_ratio_2x") < F.col("comp_ratio"),
            ).otherwise(F.lit(True))
        ).alias("marginal_ok"),
    )


@query(
    "ann_ivf_incremental",
    oracle="""
      SELECT CAST(5 * LEAST(10, (SELECT COUNT(*) FROM embeddings))
                  AS BIGINT) AS n_inc,
             TRUE AS inc_ok
    """,
)
def ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ANN index maintenance — the composition that matters
    when embeddings arrive daily and the index is 100 TB: the inverted
    lists live in a VersionedTable partitioned by ``centroid``, the
    index is built WITHOUT every 5th vector, and the missing slice
    then MERGES in — a partition-scoped commit that rewrites ONLY the
    lists the new vectors land in (every untouched list hardlinks;
    atomic publish, so a probe never sees a half-updated index) — no
    index rebuild anywhere. The verdict probes the incrementally-built
    lists and demands EXACT equality with a from-scratch in-memory
    ivf_topk over the full corpus on the same centroids: same (qid,
    vec_id, cos_sim, rank) quadruples, none missing, none extra.
    Catches stale-norm, wrong-list-routing and dropped-partition bugs
    in the maintenance path."""
    import tempfile

    from full_docker_etl_spark.operators.similarity import (
        _norm,
        _score_and_rank,
        assign_nearest,
    )
    from full_docker_etl_spark.sources.sinks import VersionedTable

    queries, corpus = _ann_query_corpus(spark, sf_dir)
    cents = _first_k_centroids(corpus)

    # ONE assignment pass over the corpus, pinned, then split by the
    # modulus — the build (4/5) and the incremental batch (1/5) reuse
    # the same materialized routing instead of each recomputing
    # assign_nearest over its slice (round-8 perf watch)
    # routed by centroid BEFORE the checkpoint: the snapshot writes
    # below are partitioned by centroid, and an unclustered input
    # writes one file per (task × touched list) — the small-file swamp
    # ann_ivf_maintain exists to clean up. REBALANCE, not a hash
    # repartition (VERDICT r18 #3): a hot centroid would hash to ONE
    # writer task at 100 TB; the AQE rebalance coalesces a small batch
    # per list and SPLITS a hot list. The probe side is untouched.
    from full_docker_etl_spark.operators.util import rebalanced

    assigned = rebalanced(
        assign_nearest(
            corpus.withColumn("_cn", _norm(F.col("embedding"))),
            "embedding",
            cents,
            1,
        ),
        "centroid",
    ).localCheckpoint(eager=True)

    table = VersionedTable(
        tempfile.mkdtemp(prefix="fde_ivf_inc_") + "/lists",
        keep_versions=2,
        partition_by=("centroid",),
    )
    table.overwrite(assigned.where(F.col("vec_id") % 5 != 0))
    table.merge(
        assigned.where(F.col("vec_id") % 5 == 0),
        keys=["vec_id", "centroid"],
    )
    lists = table.read(spark)
    probed = assign_nearest(
        queries.withColumn("_qn", _norm(F.col("qvec"))), "qvec", cents, 6
    )
    cand = F.broadcast(probed).join(lists, "centroid").where(
        F.col("qid") != F.col("vec_id")
    )
    inc = _score_and_rank(cand, 5, "qid", "vec_id", "qvec", "embedding")
    mem = ivf_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=6, centroids=cents
    ).select("qid", "vec_id", "cos_sim", "rank")
    i = inc.withColumn("_i", F.lit(1))
    m = mem.withColumn("_m", F.lit(1))
    return (
        i.join(m, ["qid", "vec_id", "cos_sim", "rank"], "full_outer")
        .agg(
            F.count("_i").alias("n_inc"),
            F.count(
                F.when(F.col("_i").isNull() | F.col("_m").isNull(), 1)
            ).alias("n_mismatch"),
        )
        .select(
            F.col("n_inc").cast("long").alias("n_inc"),
            (F.col("n_mismatch") == 0).alias("inc_ok"),
        )
    )


@query(
    "ann_ivf_maintain",
    oracle="""
      SELECT CAST(5 * LEAST(10, (SELECT COUNT(*) FROM embeddings))
                  AS BIGINT) AS n_served,
             TRUE AS maintained_ok, TRUE AS serve_ok
    """,
)
def ann_ivf_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-index MAINTENANCE parity with the sketch-store tier — the
    ``dedup_store_maintain`` shape for the IVF serving index: an
    index loaded by a caller's ``overwrite`` keeps the layout it was
    handed (here a task-count of files in every ``centroid=`` list —
    merges, rebalanced like every derived commit, leave one file per
    touched list), and the append loop that keeps an always-on index
    current (``ann_ivf_incremental``) accumulates old snapshots; maintenance
    here is the VersionedTable's own policy surface — ``compact``
    (rewrite only over-budget lists to one file each, untouched lists
    hardlinked, atomic pointer swap) with snapshot GC riding every
    commit (``keep_versions`` retention). ``maintained_ok`` pins the
    policy outcome: compaction committed, every live ``centroid=``
    list within the one-file budget, retained snapshots within the
    retention depth. ``serve_ok`` pins that maintenance changed
    NOTHING a probe can see: the compacted lists serve EXACTLY the
    from-scratch in-memory ivf_topk answer over the full corpus on
    the same centroids — same (qid, vec_id, cos_sim, rank)
    quadruples, none missing, none extra. A compaction that dropped
    or duplicated list rows, resurrected a GC'd snapshot, or broke
    the atomic publish flips a boolean red."""
    import os
    import tempfile

    from full_docker_etl_spark.operators.similarity import (
        _norm,
        _score_and_rank,
        assign_nearest,
    )
    from full_docker_etl_spark.sources.sinks import VersionedTable

    queries, corpus = _ann_query_corpus(spark, sf_dir)
    cents = _first_k_centroids(corpus)
    # routed by centroid before the checkpoint (the ann_ivf_incremental
    # clustering rationale — rebalance, not hash: VERDICT r18 #3)
    from full_docker_etl_spark.operators.util import rebalanced

    assigned = rebalanced(
        assign_nearest(
            corpus.withColumn("_cn", _norm(F.col("embedding"))),
            "embedding",
            cents,
            1,
        ),
        "centroid",
    ).localCheckpoint(eager=True)

    root = tempfile.mkdtemp(prefix="fde_ivf_maint_") + "/lists"
    table = VersionedTable(
        root, keep_versions=2, partition_by=("centroid",)
    )
    # the initial load arrives FRAGMENTED (eight writer tasks, each
    # holding rows of every list), the layout overwrite keeps, so the
    # compaction this query exists to exercise has real work on a
    # fresh index
    arrival = (F.col("vec_id") % 5 == 0) & (F.col("centroid") % 2 == 0)
    table.overwrite(assigned.where(~arrival).repartition(8))
    # TWO merge arrivals — the real append cadence — into the
    # even-numbered lists; each rewrites only the lists it touches,
    # rebalanced to one file per list, so the odd-numbered lists keep
    # the fragmented load for compaction to fold
    for rem in (0, 5):
        table.merge(
            assigned.where(arrival & (F.col("vec_id") % 10 == rem)),
            keys=["vec_id", "centroid"],
        )

    def _census() -> tuple[int, int]:
        """(max parquet files per live centroid= list, snapshots)."""
        vdir = os.path.join(root, "_versions")
        live = os.path.join(vdir, table.current_version())
        worst = 0
        for entry in os.listdir(live):
            sub = os.path.join(live, entry)
            if os.path.isdir(sub) and entry.startswith("centroid="):
                worst = max(
                    worst,
                    sum(
                        1
                        for f in os.listdir(sub)
                        if f.endswith(".parquet")
                        and not f.startswith((".", "_"))
                    ),
                )
        return worst, sum(
            1 for e in os.listdir(vdir)
            if os.path.isdir(os.path.join(vdir, e))
        )

    pre_files, _ = _census()
    compact_version = table.compact(spark, max_files_per_partition=1)
    worst_files, n_snapshots = _census()
    maintained_ok = (
        # a no-op compaction (every list already within budget) is the
        # policy WORKING, not a red row — compact() deliberately
        # declines the commit so a clean index never churns snapshots;
        # require the commit only when the pre-census showed real work
        (compact_version is not None or pre_files <= 1)
        and worst_files <= 1
        and n_snapshots <= 2
    )

    lists = table.read(spark)
    probed = assign_nearest(
        queries.withColumn("_qn", _norm(F.col("qvec"))), "qvec", cents, 6
    )
    cand = F.broadcast(probed).join(lists, "centroid").where(
        F.col("qid") != F.col("vec_id")
    )
    served = _score_and_rank(cand, 5, "qid", "vec_id", "qvec", "embedding")
    mem = ivf_topk(
        queries, corpus, k=5, n_centroids=16, nprobe=6, centroids=cents
    ).select("qid", "vec_id", "cos_sim", "rank")
    s = served.withColumn("_s", F.lit(1))
    m = mem.withColumn("_m", F.lit(1))
    return (
        s.join(m, ["qid", "vec_id", "cos_sim", "rank"], "full_outer")
        .agg(
            F.count("_s").alias("_n_served"),
            F.count(
                F.when(F.col("_s").isNull() | F.col("_m").isNull(), 1)
            ).alias("_n_mismatch"),
        )
        .select(
            F.col("_n_served").cast("long").alias("n_served"),
            F.lit(bool(maintained_ok)).alias("maintained_ok"),
            (F.col("_n_mismatch") == 0).alias("serve_ok"),
        )
    )
