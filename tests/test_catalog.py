"""The parquet schema memo behind ``load_table`` and ``VersionedTable``
reads: an unchanged input is inferred once, a rewritten one again, and
every open still builds its own relation."""

from __future__ import annotations

import os
from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from full_docker_etl_spark.harness import job_watermark
from full_docker_etl_spark.sources import load_table, read_parquet
from full_docker_etl_spark.sources.sinks import VersionedTable


def _jobs_for(spark, fn):
    before = job_watermark(spark)
    out = fn()
    return out, job_watermark(spark) - before


def test_load_table_second_open_of_unchanged_file_starts_no_job(spark, tmp_path):
    pq.write_table(
        pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}),
        tmp_path / "t.parquet",
    )
    first, first_jobs = _jobs_for(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert first_jobs >= 1  # the footer inference job the memo saves
    again, again_jobs = _jobs_for(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert again_jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_load_table_picks_up_rewrite_with_new_schema(spark, tmp_path):
    """A file rewritten in place (same path, same inode) with another
    schema — here a nanosecond timestamp column appears — is inferred
    and probed for nanos columns again on the next open."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({
            "k": [1, 2],
            "ts": pa.array(ns, type=pa.timestamp("ns")),
            "extra": ["x", "y"],
        }),
        path,
        version="2.6",
    )
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("k", "bigint"), ("ts", "timestamp"), ("extra", "string")]
    got = df.selectExpr("k", "unix_micros(ts) AS us").collect()
    assert sorted((r.k, r.us) for r in got) == [(1, ns[0] // 1000), (2, ns[1] // 1000)]


def test_flipped_inference_conf_reinfers(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], type=pa.binary())}), path)
    assert read_parquet(spark, path).dtypes == [("b", "binary")]
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert read_parquet(spark, path).dtypes == [("b", "string")]
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert read_parquet(spark, path).dtypes == [("b", "binary")]


def test_two_opens_of_one_table_self_join(spark, tmp_path):
    """Only the schema is remembered: each open is a fresh relation
    with fresh attribute ids, so the join condition is not trivially
    true and each key matches only itself."""
    pq.write_table(
        pa.table({"k": [1, 2, 3, 4], "v": [10, 20, 30, 40]}),
        tmp_path / "t.parquet",
    )
    a = load_table(spark, str(tmp_path), "t")
    b = load_table(spark, str(tmp_path), "t")
    pairs = a.join(b, a["k"] == b["k"]).select(a["k"], b["v"]).collect()
    assert sorted(tuple(r) for r in pairs) == [(1, 10), (2, 20), (3, 30), (4, 40)]


def _write_nanos_events(sf_dir: str, dst) -> dict:
    """Write ``events`` with ``ts`` as TIMESTAMP(NANOS) (the format
    earlier testdata rounds shipped) to ``dst/events.parquet``, with
    sub-microsecond digits; returns {event_id: epoch micros} a correct
    read must give."""
    raw = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = raw.column("ts").cast(pa.int64()).to_pylist()
    unit = {"us": 1, "ns": 1000}[raw.schema.field("ts").type.unit]
    ns = [None if v is None else v * 1000 // unit + 789 for v in ts]
    nanos = raw.set_column(
        raw.schema.get_field_index("ts"), "ts", pa.array(ns, type=pa.timestamp("ns"))
    )
    pq.write_table(nanos, dst / "events.parquet", version="2.6")
    return {
        eid: None if v is None else v // 1000
        for eid, v in zip(raw.column("event_id").to_pylist(), ns)
    }


def test_events_nanos_table_yields_microsecond_timestamps(spark, sf_dir, tmp_path):
    """``events.ts`` stored as TIMESTAMP(NANOS) (the format earlier
    testdata rounds shipped): the memoized reopen must still rebuild
    microsecond timestamps, truncating the sub-microsecond digits."""
    want = _write_nanos_events(sf_dir, tmp_path)
    load_table(spark, str(tmp_path), "events")
    df, jobs = _jobs_for(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {
        r.event_id: r.us
        for r in df.selectExpr("event_id", "unix_micros(ts) AS us").collect()
    }
    assert got == want


def test_versioned_reread_starts_no_schema_job(spark, tmp_path):
    """Snapshot directories are immutable, so re-reading a version that
    was read before — live, time-travelled or with a deletion vector —
    starts no Spark job; only the action does."""
    t = VersionedTable(str(tmp_path / "t"), keep_versions=3, partition_by=("p",))
    v1 = t.overwrite(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "b", 3.0)],
            "k int, p string, x double",
        )
    )
    v2 = t.delete_dv(spark.createDataFrame([(2, "b")], "k int, p string"), ["k", "p"])
    for version in (v1, v2):
        first = t.read(spark, version=version)
        again, jobs = _jobs_for(spark, lambda v=version: t.read(spark, version=v))
        assert jobs == 0
        assert again.schema == first.schema
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3]
    assert sorted(r.k for r in t.read(spark, version=v1).collect()) == [1, 2, 3]


def test_memo_is_a_bounded_lru(spark, tmp_path, monkeypatch):
    from full_docker_etl_spark.sources import catalog

    monkeypatch.setattr(catalog, "_SCHEMA_MEMO", OrderedDict())
    monkeypatch.setattr(catalog, "_MEMO_SIZE", 2)
    paths = []
    for i in range(3):
        paths.append(str(tmp_path / f"t{i}.parquet"))
        pq.write_table(pa.table({"k": [i]}), paths[-1])
    read_parquet(spark, paths[0])
    read_parquet(spark, paths[1])
    read_parquet(spark, paths[0])  # refreshes t0: t1 is now the oldest
    read_parquet(spark, paths[2])  # evicts t1
    assert len(catalog._SCHEMA_MEMO) == 2
    _, hit = _jobs_for(spark, lambda: read_parquet(spark, paths[0]))
    _, evicted = _jobs_for(spark, lambda: read_parquet(spark, paths[1]))
    assert hit == 0 and evicted >= 1


def _all_confs(spark) -> dict:
    return dict(spark.conf.getAll)


def test_load_table_of_a_nanos_table_changes_no_session_conf(spark, sf_dir, tmp_path):
    """Opening a TIMESTAMP(NANOS) table leaves every session conf as it
    found it: the conf the scan needs is a session default, not a flip
    made on first use that every later query would inherit."""
    _write_nanos_events(sf_dir, tmp_path)
    s = spark.newSession()
    before = _all_confs(s)
    assert before["spark.sql.legacy.parquet.nanosAsLong"] == "true"
    load_table(s, str(tmp_path), "events").collect()
    assert _all_confs(s) == before


def test_reads_do_not_depend_on_whether_events_was_loaded(spark, sf_dir, tmp_path):
    """A query over ``orders`` and ``read_parquet`` of the nanos table
    give the same rows and schemas before and after ``events`` is
    loaded: nothing a load does is visible to a later read."""
    _write_nanos_events(sf_dir, tmp_path)
    nanos_path = str(tmp_path / "events.parquet")
    s = spark.newSession()

    def observe():
        orders = load_table(s, sf_dir, "orders")
        rows = sorted(
            tuple(r)
            for r in orders.groupBy("o_orderstatus")
            .agg({"o_totalprice": "sum", "*": "count"})
            .collect()
        )
        return rows, orders.schema, read_parquet(s, nanos_path).schema

    first = observe()
    load_table(s, str(tmp_path), "events").collect()
    assert observe() == first
    assert first[2]["ts"].dataType.simpleString() == "bigint"  # raw nanos


def test_load_table_refuses_nanos_table_when_session_lacks_the_conf(
    spark, sf_dir, tmp_path
):
    """A session with ``nanosAsLong`` off cannot read a nanos column:
    the load raises naming the conf and leaves it off."""
    _write_nanos_events(sf_dir, tmp_path)
    s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(ValueError, match="spark.sql.legacy.parquet.nanosAsLong"):
        load_table(s, str(tmp_path), "events")
    assert s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
    assert load_table(s, sf_dir, "orders").count() > 0  # no nanos: unaffected
