"""Physical-plan audits: the scale guarantees each operator claims must
be visible in the plan, not just hoped for (SURVEY.md §4).

- broadcast joins must compile to BroadcastHashJoin (no shuffle of the
  fact side);
- pushable filters must reach the parquet scan as PushedFilters;
- projections must prune the scan's ReadSchema;
- top-k must execute as TakeOrderedAndProject (no full sort);
- anti/semi probes must not degenerate into cartesian products.
"""

from __future__ import annotations

import contextlib
import io

from full_docker_etl_spark.registry import all_specs

SPECS = all_specs()


def plan_of(spark, sf_dir, name: str) -> str:
    # plans are audited against the canonical PARQUET scan: a table an
    # earlier test left cached would swap in InMemoryTableScan and
    # change the audited shape (order-dependent flake)
    spark.catalog.clearCache()
    df = SPECS[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_broadcast_join_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_broadcast")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_semi_anti_are_joins_not_cartesian(spark, sf_dir):
    for name in ("join_anti", "join_semi"):
        plan = plan_of(spark, sf_dir, name)
        assert "Cartesian" not in plan, plan
        assert "LeftAnti" in plan or "LeftSemi" in plan, plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_eq")
    assert "PushedFilters" in plan
    # the equality predicate must be pushed, not evaluated post-scan only
    assert "EqualTo(event_type,click)" in plan.replace(" ", ""), plan


def test_column_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_in")
    # only the two projected columns (plus nothing else) are read
    lower = plan.lower()
    assert "o_totalprice" not in lower, plan
    assert "o_orderdate" not in lower, plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "topk_by_value")
    assert "TakeOrderedAndProject" in plan, plan


def test_multigrain_single_scan(spark, sf_dir):
    import re

    plan = plan_of(spark, sf_dir, "agg_multigrain")
    # GROUPING SETS: one scan + Expand, not three unioned scans
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Expand" in plan, plan


def test_temporal_joins_never_cartesian(spark, sf_dir):
    """As-of = union + window (no join explosion at all); range join =
    equi-join on (key, bucket) — neither may plan a cartesian or
    broadcast-nested-loop join."""
    for name in ("join_asof", "join_range"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_asof_join_single_shuffle_no_join(spark, sf_dir):
    """The as-of formulation must not contain a join operator — its
    only exchange is the window partitioning on the key."""
    plan = plan_of(spark, sf_dir, "join_asof")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "Window" in plan, plan


def test_materialized_grain_serve_prunes_partitions(spark, sf_dir):
    """The serve-path month read must hit the partition column in
    PartitionFilters (files pruned before any row is read)."""
    plan = plan_of(spark, sf_dir, "serve_materialized_grain")
    compact = plan.replace(" ", "")
    assert "PartitionFilters" in plan, plan
    assert "agg_type=month" in compact or "agg_type#" in compact, plan


def test_centroid_assignment_no_corpus_shuffle(spark, sf_dir):
    """IVF/k-means nearest-centroid assignment is a per-row argmax over
    the broadcast centroid set: the corpus side must reach the
    assignment with NO shuffle exchange (only a BroadcastExchange of
    the one-row centroid array). A crossJoin+Window formulation would
    show Exchange hashpartitioning here — at 100 TB that exchange of
    |corpus|·k vector rows is the whole job."""
    from full_docker_etl_spark.operators.similarity import assign_nearest
    from full_docker_etl_spark.sources.catalog import load_table
    import contextlib, io

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.limit(4).selectExpr("vec_id AS centroid", "embedding AS cvec")
    out = assign_nearest(emb, "embedding", cents, 1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # The WHOLE plan must be free of data-partitioning exchanges: the
    # corpus flows scan → BNLJ → projection with no shuffle, and the
    # centroid side only folds k rows to one (its LIMIT/agg may use an
    # Exchange SinglePartition of k rows — the only exchange allowed).
    # (A split-after-the-join-node check is NOT enough: in formatted
    # explain the corpus scan's detail block prints BEFORE the join's,
    # so a corpus-side Exchange would hide in the earlier text. And
    # formatted mode prints partitioning inside the Exchange node's
    # detail block — "Arguments: hashpartitioning(...)" — so the
    # "Exchange hashpartitioning" spelling would NEVER appear and the
    # check would pass vacuously; match the bare partitioning names.)
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Window" not in plan, plan


def test_ivf_serve_dynamic_partition_pruning(spark, sf_dir):
    """The IVF serve path must read ONLY the probed inverted lists:
    the partitioned corpus scan carries a dynamic-pruning expression on
    the centroid partition column, fed by the broadcast probe side."""
    import tempfile
    import contextlib, io

    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.similarity import (
        ivf_build_lists,
        ivf_probe_lists,
    )
    from full_docker_etl_spark.sources.catalog import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    corpus = embs.select("vec_id", "embedding")
    cents = corpus.orderBy("vec_id").limit(4).selectExpr(
        "vec_id AS centroid", "embedding AS cvec"
    )
    path = tempfile.mkdtemp(prefix="fde_ivfplan_") + "/lists"
    ivf_build_lists(corpus, path, cents)
    queries = embs.where(F.col("vec_id") < 3).selectExpr(
        "vec_id AS qid", "embedding AS qvec"
    )
    out = ivf_probe_lists(spark, path, queries, cents, k=3, nprobe=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruning" in plan.lower(), plan
    assert out.count() > 0


def test_pii_scrub_is_map_only(spark, sf_dir):
    """The scrub is a pure row-local regexp pass: the plan must contain
    NO exchange of any kind — at 100 TB this query is one map stage."""
    plan = plan_of(spark, sf_dir, "text_pii_scrub")
    assert "Exchange" not in plan, plan


def test_epoch_shuffle_is_sharded_not_global_sort(spark, sf_dir):
    """The permutation must shuffle ONCE on the shard key for the
    per-shard windows — never compile to a global range-partitioned
    sort (one giant serial sort at 100 TB) or a single-partition
    window."""
    plan = plan_of(spark, sf_dir, "sample_epoch_shuffle")
    # formatted mode prints the partitioning in the Exchange node's
    # detail block ("Arguments: hashpartitioning(...)"), not as
    # "Exchange hashpartitioning" — match the bare partitioning names.
    assert "rangepartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("hashpartitioning") == 1, plan


def test_versioned_merge_scoped_read_prunes_partitions(spark, tmp_path):
    """The merge's snapshot read must carry the touched partition
    values in the scan's PartitionFilters (static prune — untouched
    partitions' files never opened). DPP does NOT fire for the
    broadcast left-semi layer alone, so this static layer is the only
    thing standing between a merge and a full table scan."""
    import contextlib, io

    from pyspark.sql import functions as F

    from full_docker_etl_spark.sources.sinks import VersionedTable

    t = VersionedTable(str(tmp_path / "t"), partition_by=("yr",))
    base = spark.createDataFrame(
        [(i, str(1990 + i % 5), "v") for i in range(50)],
        "k int, yr string, v string",
    )
    t.overwrite(base)
    touched = spark.sql("SELECT yr FROM VALUES ('1992'), ('1994') AS t(yr)")
    pruned = t._scoped_read(t.read(spark), t._touched(touched, "merge"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "IN (1992,1994)" in pf[0].replace(" ", " "), plan


def test_star_revenue_plan_shape(spark, sf_dir):
    """Q5-shaped star query: date range pushed to the orders scan,
    bounded dims (nation/region) broadcast, no Cartesian product."""
    plan = plan_of(spark, sf_dir, "join_star_revenue")
    flat = plan.replace(" ", "")
    assert "BroadcastHashJoin" in plan, plan
    assert "Cartesian" not in plan, plan
    # the o_orderdate range predicate must reach the parquet scan
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(o_orderdate" in flat, plan
    # region filter pushed too (shrinks the dim before the join)
    assert "In(r_name" in flat, plan


def test_profile_is_single_scan(spark, sf_dir):
    """The whole-table profile must read the corpus exactly once —
    the per-column reshape must not re-run the aggregation."""
    import re

    plan = plan_of(spark, sf_dir, "profile_table")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_unpivot_is_single_scan_expand(spark, sf_dir):
    """unpivot must compile to one scan + Expand, not four unions."""
    import re

    plan = plan_of(spark, sf_dir, "agg_unpivot")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Expand" in plan, plan


def test_temperature_mix_never_shuffles_the_corpus(spark, sf_dir):
    """Mixing plan shape: the corpus-side scan flows straight into the
    broadcast join + hash filter (no corpus exchange); the only
    hash exchange is the 5-key count agg, whose scan is column-pruned
    to the group column alone."""
    plan = plan_of(spark, sf_dir, "sample_temperature_mix")
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("hashpartitioning") == 1, plan
    assert "struct<lang:string>" in plan.replace(" ", ""), plan


def test_plan_stats_api(spark, sf_dir):
    """The plans module must report the same facts the string asserts
    above rely on — pinned against two queries with known shapes."""
    from full_docker_etl_spark.plans import plan_stats, read_schemas

    star = SPECS["join_star_revenue"].fn(spark, sf_dir)
    s = plan_stats(star)
    assert s["scans"] == 5                      # 2 facts + 3 dims
    assert s["broadcast_joins"] >= 2            # bounded dims at least
    assert s["cartesian"] == 0 and s["nested_loop_joins"] == 0
    assert s["pushed_filter_scans"] >= 2        # date range + region
    assert s["sort_merge_joins"] + s["shuffled_hash_joins"] <= 1
    assert s["codegen_spans"] == 0              # un-executed AQE plan

    prof = SPECS["profile_table"].fn(spark, sf_dir)
    p = plan_stats(prof)
    assert p["scans"] == 1
    schemas = read_schemas(prof)
    assert len(schemas) == 1 and "doc_id" in schemas[0]


def test_no_scale_antipatterns_in_any_registered_query(spark):
    """SWEEPING plan gate over the ENTIRE registry: no registered
    query may plan a CartesianProduct (quadratic blow-up) or a
    rangepartitioning exchange (global sort) — at any scale factor.
    The bounded patterns that DO appear (SinglePartition exchanges of
    one-row scalar frames, BroadcastNestedLoopJoin of broadcast
    one-row/centroid builds) are each pinned by their own targeted
    tests above; this test guards the global floor so a future query
    can't quietly ship an anti-pattern."""
    from full_docker_etl_spark.plans import plan_stats

    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, spec in SPECS.items():
        spark.catalog.clearCache()
        s = plan_stats(spec.fn(spark, sf))
        if s["cartesian"] or s["range_exchanges"]:
            offenders[name] = s
    assert not offenders, offenders


def test_clustered_scan_pushes_range_to_files(spark, sf_dir):
    """The clustered-layout query's range predicate must reach the
    parquet scan as PushedFilters — with write_clustered's disjoint
    per-file min/max, that pushdown is what lets the reader skip whole
    files/row groups; a post-scan-only filter would read every byte of
    the clustered table and defeat the layout."""
    plan = plan_of(spark, sf_dir, "sink_clustered_scan")
    squeezed = plan.replace(" ", "")
    assert "PushedFilters" in plan, plan
    assert "GreaterThanOrEqual(l_shipdate" in squeezed, plan
    assert "LessThan(l_shipdate" in squeezed, plan


def test_zorder_scan_pushes_both_predicates_to_files(spark, sf_dir):
    """The Z-ordered query's BOTH predicates (user_id equality + ts
    range) must reach the parquet scan as PushedFilters — interleaved
    clustering keeps both columns' per-file stats narrow, but only a
    pushed filter lets the reader act on them."""
    plan = plan_of(spark, sf_dir, "sink_zorder_scan")
    squeezed = plan.replace(" ", "")
    assert "PushedFilters" in plan, plan
    assert "EqualTo(user_id" in squeezed, plan
    assert "GreaterThanOrEqual(ts" in squeezed, plan
    assert "LessThan(ts" in squeezed, plan


def test_curate_domains_blocklist_is_broadcast_anti(spark, sf_dir):
    """The blocklist must ride the scan as a broadcast anti-join —
    a shuffled anti would move the whole corpus for a 10³-host list."""
    plan = plan_of(spark, sf_dir, "curate_domains")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_token_budget_single_scan(spark, sf_dir):
    """The mixture planner reduces the corpus with ONE scan; the
    α-weights/targets/shares are windows over the #groups frame."""
    import re

    plan = plan_of(spark, sf_dir, "sample_token_budget")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_profile_corpus_top_term_is_take_ordered(spark, sf_dir):
    """The modal term must compile to TakeOrderedAndProject, not a
    global sort of the vocabulary."""
    plan = plan_of(spark, sf_dir, "profile_corpus")
    assert "TakeOrderedAndProject" in plan, plan


def test_classifier_scalars_are_broadcast(spark, sf_dir):
    """The NB classifier's totals/prior scalars must broadcast back
    onto the token frame (BroadcastNestedLoopJoin of one-row frames),
    never shuffle-join it."""
    plan = plan_of(spark, sf_dir, "text_quality_classifier")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
