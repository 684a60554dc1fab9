"""The three closed-loop workloads.  Each drives the engine only through
its public functions and checks every result outside the timed phase.

A workload object provides ``tables`` (the generated inputs it reads),
``setup()`` (session, views and inputs), ``warmup()``, ``step()`` (one
unit of the timed loop: a serve block, a composite pass or an ingest
round — the loop only stops between units, so every run has the same
op mix), ``check()`` and ``layer_metrics()``.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from common import (
    COMPOSITE_QUERIES,
    disk_bytes,
    inodes,
    job_watermark,
    median,
    start_session,
)
import data


class Workload:
    tables: tuple[str, ...] = ()
    scale = 0.1
    MIN_STEPS = 1  # timed units a run holds at least

    def __init__(self, run):
        self.run = run  # run.py's Run: paths, seed, tracer, op log
        self.spark = None
        self.failures: list[str] = []

    @property
    def sf_dir(self) -> str:
        return self.run.data_dir

    def span(self, name: str):
        return self.run.tracer.span(name)

    def start_engine(self) -> None:
        from full_docker_etl_spark.sources.catalog import register_views

        with self.span("session.start"):
            self.spark = start_session(self.run.work, self.run.cores, self.run.trace)
        with self.span("catalog.register"):
            register_views(self.spark, self.sf_dir, names=self.tables)

    def setup(self) -> None:
        self.start_engine()

    def op(self, kind: str, fn):
        """Run one op: wall latency, job-id watermarks when tracing."""
        run = self.run
        wm_lo = job_watermark(self.spark) if run.trace else 0
        run.tracer.op = len(run.ops)
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            result, ok = fn(), True
        except Exception as exc:  # a failed op is counted, not fatal
            result, ok = None, False
            self.failures.append(f"{kind}: {type(exc).__name__}: {exc}")
        latency = time.perf_counter() - p0
        t1 = time.time()
        run.tracer.op = None
        run.ops.append({
            "kind": kind, "latency": latency, "t0": t0, "t1": t1, "ok": ok,
            "timed": run.timing,
            "wm_lo": wm_lo,
            "wm_hi": job_watermark(self.spark) if run.trace else 0,
        })
        return result

    def query_ops(self) -> list[dict]:
        """The ops the end-to-end latency and rate describe: all but
        the point reads that follow them."""
        return [o for o in self.run.ops if o["kind"] != "read"]

    def read_latencies(self) -> list[float]:
        return [o["latency"] for o in self.run.ops
                if o["timed"] and o["kind"] == "read"]

    def sweep(self) -> None:
        """Drop what a finished op left cached: the catalog cache and
        persisted RDDs (local checkpoints), as the engine's bench does
        between queries."""
        self.spark.catalog.clearCache()
        for jrdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)

    def layer_metrics(self) -> dict:
        return {}


# ---------------------------------------------------------------- serve


class Serve(Workload):
    """Flask-equivalent requests, one client, each result collected."""

    tables = ("orders", "lineitem", "customer", "documents")
    WARM_BLOCKS = 1
    MIN_STEPS = 4

    def setup(self) -> None:
        self.start_engine()
        self.stream = data.serve_requests(self.run.seed, self.scale)
        self.answers: list[tuple[str, dict, list]] = []

    def build(self, kind: str, p: dict):
        from full_docker_etl_spark.operators import query_surface as qs
        from full_docker_etl_spark.sources.catalog import load_table

        def t(name):
            return load_table(self.spark, self.sf_dir, name)

        if kind == "point_lookup":
            return qs.point_lookup(t("orders"), "o_orderkey", p["key"]).select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderpriority")
        if kind == "price_range":
            return t("lineitem").where(
                qs.range_filter("l_extendedprice", p["lo"], p["hi"])
            ).select("l_orderkey", "l_linenumber", "l_extendedprice")
        if kind == "name_search":
            return t("customer").where(
                qs.contains_ci("c_name", p["needle"])
            ).select("c_custkey", "c_name")
        if kind == "text_search":
            return t("documents").where(
                qs.any_contains_ci(["text", "source"], p["needle"])
            ).select("doc_id", "source")
        if kind == "pending_in_list":
            return t("orders").where(
                qs.in_list("o_custkey", p["custkeys"])
                & qs.pending_filter("o_orderstatus", "P")
            ).select("o_orderkey", "o_custkey", "o_totalprice")
        if kind == "paginate":
            week = t("orders").where(
                qs.range_filter("o_orderdate", p["day_lo"], p["day_hi"])
            )
            return qs.paginate(
                week, [("o_totalprice", False), ("o_orderkey", True)],
                p["page"], p["per_page"],
            ).select("o_orderkey", "o_totalprice", "rn")
        if kind == "top_k":
            return qs.top_k(
                t("lineitem").where(qs.eq_filter("l_linenumber", p["linenumber"])),
                [("l_extendedprice", False), ("l_orderkey", True),
                 ("l_linenumber", True)],
                p["k"],
            ).select("l_orderkey", "l_linenumber", "l_extendedprice")
        if kind == "distinct":
            return qs.distinct_values(
                t("customer").where(qs.eq_filter("c_nationkey", p["nation"])),
                "c_mktsegment",
            )
        if kind == "group_count":
            return (
                t("orders").where(qs.eq_filter("o_orderpriority", p["priority"]))
                .groupBy("o_orderstatus").count()
            )
        raise ValueError(kind)

    def request(self, kind: str, p: dict):
        with self.span("surface.build"):
            df = self.build(kind, p)
        with self.span("surface.collect") as s:
            rows = df.collect()
            if s is not None:
                s["rows"] = len(rows)
        return rows

    def block(self) -> None:
        for _ in data.SERVE_KINDS:
            kind, p = next(self.stream)
            rows = self.op(kind, lambda: self.request(kind, p))
            self.answers.append((kind, p, rows))

    def warmup(self) -> None:
        for _ in range(self.WARM_BLOCKS):
            self.block()

    step = block

    def check(self) -> None:
        import duckdb

        con = duckdb.connect()
        for name in self.tables:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{path}')")
        for kind, p, rows in self.answers:
            if rows is None:
                continue  # already counted as failed
            sql, args = SERVE_ORACLE[kind](p)
            want = sorted(tuple(r) for r in con.execute(sql, args).fetchall())
            got = sorted(tuple(r) for r in rows)
            if got != want:
                self.failures.append(f"{kind} {p}: wrong result")

    def layer_metrics(self) -> dict:
        tr, timed = self.run.tracer, self.run.timed_op_ids()
        rows = [s.get("rows", 0) for s in tr.spans
                if s["name"] == "surface.collect" and s["op"] in timed]
        return {
            "surface.build_ms": 1000 * median(tr.durations("surface.build", timed)),
            "surface.collect_ms": 1000 * median(tr.durations("surface.collect", timed)),
            "surface.rows_per_op": sum(rows) / max(1, len(rows)),
        }

    def read_latencies(self) -> list[float]:
        return [o["latency"] for o in self.run.ops
                if o["timed"] and o["kind"] == "point_lookup"]

    def space_amp(self) -> float:
        # serve keeps no state of its own: the bytes it serves are the
        # bytes it stores
        return disk_bytes(self.sf_dir) / sum(
            os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet"))
            for t in self.tables
        )


def _serve_oracle():
    cols_o = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority"
    return {
        "point_lookup": lambda p: (
            f"SELECT {cols_o} FROM orders WHERE o_orderkey = ? LIMIT 1", [p["key"]]),
        "price_range": lambda p: (
            "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
            "WHERE l_extendedprice BETWEEN ? AND ?", [p["lo"], p["hi"]]),
        "name_search": lambda p: (
            "SELECT c_custkey, c_name FROM customer "
            "WHERE contains(lower(c_name), lower(?))", [p["needle"]]),
        "text_search": lambda p: (
            "SELECT doc_id, source FROM documents WHERE contains(lower(text), "
            "lower(?)) OR contains(lower(source), lower(?))",
            [p["needle"], p["needle"]]),
        "pending_in_list": lambda p: (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            "WHERE list_contains(?, o_custkey) "
            "AND (o_orderstatus = 'P' OR o_orderstatus IS NULL)",
            [p["custkeys"]]),
        "paginate": lambda p: (
            "SELECT o_orderkey, o_totalprice, rn FROM (SELECT *, row_number() "
            "OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders "
            "WHERE o_orderdate BETWEEN ? AND ?) WHERE rn BETWEEN ? AND ?",
            [p["day_lo"], p["day_hi"], (p["page"] - 1) * p["per_page"] + 1,
             p["page"] * p["per_page"]]),
        "top_k": lambda p: (
            "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
            "WHERE l_linenumber = ? ORDER BY l_extendedprice DESC, l_orderkey, "
            "l_linenumber LIMIT ?", [p["linenumber"], p["k"]]),
        "distinct": lambda p: (
            "SELECT DISTINCT c_mktsegment FROM customer WHERE c_nationkey = ?",
            [p["nation"]]),
        "group_count": lambda p: (
            "SELECT o_orderstatus, count(*) FROM orders "
            "WHERE o_orderpriority = ? GROUP BY 1", [p["priority"]]),
    }


SERVE_ORACLE = _serve_oracle()


# ------------------------------------------------------------ composite


class Composite(Workload):
    """Store-backed composites, in a seeded order each pass, each as
    ``QuerySpec.fn`` plus a ``noop`` write."""

    tables = ("documents",)
    scale = 0.01
    MIN_STEPS = 2
    READS_PER_QUERY = 3

    def setup(self) -> None:
        from full_docker_etl_spark.registry import all_specs

        self.start_engine()
        self.specs = all_specs()
        self.rng = random.Random(self.run.seed)
        self.checked: dict[str, list] = {}
        self.store_bytes = 0
        self.timed_passes = 0
        self.reads = data.documents_table(self.scale).select(["doc_id", "text"])

    def query(self, name: str):
        spec = self.specs[name]
        with self.span(f"registry.fn.{name}"):
            df = spec.fn(self.spark, self.sf_dir)
        with self.span(f"registry.action.{name}"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def one_pass(self, check: bool) -> None:
        from full_docker_etl_spark.operators import query_surface as qs
        from full_docker_etl_spark.sources.catalog import load_table

        tmp = self.run.tmp_dir
        for name in self.rng.sample(COMPOSITE_QUERIES, len(COMPOSITE_QUERIES)):
            before = set(os.listdir(tmp))
            df = self.op(name, lambda n=name: self.query(n))
            if check and df is not None:
                t0 = time.perf_counter()
                self.checked[name] = df.collect()
                self.run.untimed_s += time.perf_counter() - t0
            self.sweep()
            # the stores the query persisted: measure, then remove
            for entry in set(os.listdir(tmp)) - before:
                path = os.path.join(tmp, entry)
                if self.run.timing:
                    self.store_bytes += disk_bytes(path)
                shutil.rmtree(path, ignore_errors=True)
            # point reads of the corpus after the composite
            for _ in range(self.READS_PER_QUERY):
                doc = self.rng.randrange(self.reads.num_rows)
                rows = self.op("read", lambda d=doc: qs.point_lookup(
                    load_table(self.spark, self.sf_dir, "documents"), "doc_id", d
                ).select("text").collect())
                if rows is not None and [r[0] for r in rows] != [
                    self.reads["text"][doc].as_py()
                ]:
                    self.failures.append(f"read doc {doc}: wrong result")

    def warmup(self) -> None:
        self.one_pass(check=True)

    def step(self) -> None:
        self.one_pass(check=False)
        self.timed_passes += 1

    def check(self) -> None:
        import duckdb

        con = duckdb.connect()
        for name in self.tables:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for name, rows in self.checked.items():
            cur = con.execute(self.specs[name].oracle)
            cols = [d[0] for d in cur.description]
            want = sorted(_canon(r) for r in cur.fetchall())
            got = sorted(_canon([r[c] for c in cols]) for r in rows)
            if got != want:
                self.failures.append(f"{name}: {got[:3]} != oracle {want[:3]}")
        missing = set(COMPOSITE_QUERIES) - set(self.checked)
        self.failures.extend(f"{n}: never checked" for n in sorted(missing))

    def space_amp(self) -> float:
        docs = os.path.getsize(os.path.join(self.sf_dir, "documents.parquet"))
        per_pass = self.store_bytes / max(1, self.timed_passes)
        return per_pass / docs

    def layer_metrics(self) -> dict:
        tr, timed = self.run.tracer, self.run.timed_op_ids()
        out = {}
        fn_all, action_all = [], []
        for q in COMPOSITE_QUERIES:
            fn = tr.durations(f"registry.fn.{q}", timed)
            action = tr.durations(f"registry.action.{q}", timed)
            fn_all += fn
            action_all += action
            out[f"registry.fn_s.{q}"] = median(fn)
            out[f"registry.action_s.{q}"] = median(action)
        out["registry.fn_s"] = sum(fn_all) / max(1, len(fn_all))
        out["registry.action_s"] = sum(action_all) / max(1, len(action_all))
        return out


def _canon(row) -> tuple:
    out = []
    for v in row:
        if isinstance(v, float):
            v = round(v, 6)
        out.append(v)
    return tuple(out)


# --------------------------------------------------------------- ingest


class Ingest(Workload):
    """Seeded arrival batches merged into a ``VersionedTable`` partitioned
    by ``o_orderstatus``, one batch per partition a round and ``compact``
    after every round; a point read of the live version after every
    commit."""

    tables = ("orders",)
    scale = 0.02
    MIN_STEPS = 5
    BATCH_SHARE = 15  # a batch holds about 1/15 of the table: 1998 rows at scale 0.02
    KEYS = ["o_orderkey", "o_orderstatus"]

    def setup(self) -> None:
        from full_docker_etl_spark.sources.catalog import load_table
        from full_docker_etl_spark.sources.sinks import VersionedTable

        self.start_engine()
        # inputs loaded: the initial version of the table
        self.vt = VersionedTable(os.path.join(self.run.work, "table"),
                                 partition_by=("o_orderstatus",))
        with self.span("sinks.initial_write"):
            self.vt.overwrite(load_table(self.spark, self.sf_dir, "orders"))
        base = data.orders_table(self.scale)
        self.batches = data.ingest_batches(
            self.run.seed, self.scale, base.num_rows // self.BATCH_SHARE
        )
        self.applied: list = []  # arrow batches in commit order
        self.base_price = base["o_totalprice"].to_numpy()
        self.base_status = base["o_orderstatus"].to_numpy(zero_copy_only=False)
        self.overlay: dict[int, tuple | None] = {}
        self.commits = 0
        self.rng = random.Random(self.run.seed)
        self.stats = {"attempts": [], "files": [], "versions": [],
                      "written": 0, "user": 0}
        self.space: list[float] = []

    def _expected(self, key: int) -> list[tuple]:
        """Rows the live version must hold for ``key``: the base table
        with every applied batch laid over it."""
        if key in self.overlay:
            v = self.overlay[key]
            return [] if v is None else [(key, *v)]
        if key < len(self.base_price):
            return [(key, str(self.base_status[key]), float(self.base_price[key]))]
        return []

    def _commit(self, kind: str | None, fn, name: str):
        """Run a commit, as an op when ``kind`` is given; when tracing,
        count what it wrote outside the op, so the op covers only the
        call into the sink."""
        before = inodes(self.vt.root) if self.run.trace else None

        def call():
            with self.span(name):
                return fn()

        out = self.op(kind, call) if kind else call()
        if self.run.trace:
            after = inodes(self.vt.root)
            self.stats["written"] += sum(
                size for ino, size in after.items() if ino not in before
            )
            live = os.path.join(self.vt.root, "_versions", self.vt.current_version())
            self.stats["files"].append(sum(
                1 for _, _, fs in os.walk(live) for f in fs if f.endswith(".parquet")
            ))
            self.stats["versions"].append(
                len(os.listdir(os.path.join(self.vt.root, "_versions")))
            )
        return out

    def cycle(self) -> None:
        from pyspark.sql import functions as F

        _, batch = next(self.batches)
        updates = self.spark.createDataFrame(batch)
        self._commit(
            "commit",
            lambda: self.vt.merge(updates, self.KEYS, delete_col="_deleted"),
            "sinks.merge",
        )
        self.stats["attempts"].append(self.vt.last_mutation_attempts)
        self.stats["user"] += batch.nbytes
        self.applied.append(batch)
        self.commits += 1
        # expected state after this commit, for the point read
        cols = batch.select(["o_orderkey", "o_orderstatus", "o_totalprice",
                             "_deleted"]).to_pydict()
        for k, st, price, deleted in zip(*cols.values()):
            self.overlay[k] = None if deleted else (st, price)
        key = cols["o_orderkey"][self.rng.randrange(batch.num_rows)]

        def read():
            with self.span("sinks.read"):
                return self.vt.read(self.spark).where(
                    F.col("o_orderkey") == key
                ).select("o_orderkey", "o_orderstatus", "o_totalprice").collect()

        rows = self.op("read", read)
        if rows is not None and [tuple(r) for r in rows] != self._expected(key):
            self.failures.append(f"read {key} after commit {self.commits}: wrong")
        self.sample_space()

    def sample_space(self) -> None:
        if self.run.timing:
            live = os.path.join(self.vt.root, "_versions", self.vt.current_version())
            self.space.append(disk_bytes(self.vt.root) / disk_bytes(live))

    def compact(self) -> None:
        self._commit(
            None,
            lambda: self.vt.compact(self.spark, max_files_per_partition=1),
            "sinks.compact",
        )
        self.sample_space()

    def round(self) -> None:
        """One commit per status partition, then compaction."""
        for _ in data.STATUSES:
            self.cycle()
        self.compact()

    def warmup(self) -> None:
        # each code path once: a commit, its read and a compaction
        self.cycle()
        self.compact()

    step = round

    def check(self) -> None:
        """Replay every applied batch in DuckDB and compare it with the
        engine's live version."""
        import duckdb

        con = duckdb.connect()
        path = os.path.join(self.sf_dir, "orders.parquet")
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{path}')")
        for batch in self.applied:
            con.register("b", batch)
            con.execute("DELETE FROM t WHERE (o_orderkey, o_orderstatus) IN "
                        "(SELECT (o_orderkey, o_orderstatus) FROM b)")
            con.execute("INSERT INTO t SELECT * EXCLUDE (_deleted) FROM b "
                        "WHERE NOT _deleted")
            con.unregister("b")
        live = self.vt.read(self.spark).toArrow()
        con.register("live", live)
        cols = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                "epoch_us(o_orderdate) AS d, o_orderpriority")
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM t EXCEPT ALL "
            f"SELECT {cols} FROM live)) + (SELECT count(*) FROM (SELECT {cols} "
            f"FROM live EXCEPT ALL SELECT {cols} FROM t))"
        ).fetchone()[0]
        if diff:
            self.failures.append(f"live table differs from replay by {diff} rows")

    def space_amp(self) -> float:
        """Mean over the timed phase of table bytes on disk (each inode
        once) over the live version's bytes, sampled after every commit
        and every compaction."""
        return sum(self.space) / max(1, len(self.space))

    def layer_metrics(self) -> dict:
        tr, timed = self.run.tracer, self.run.timed_op_ids()
        st = self.stats
        return {
            "sinks.merge_ms": 1000 * median(tr.durations("sinks.merge", timed)),
            # compaction runs between ops, so it carries no op id
            "sinks.compact_ms": 1000 * median(tr.durations("sinks.compact")),
            "sinks.read_ms": 1000 * median(tr.durations("sinks.read", timed)),
            "sinks.attempts_per_commit": sum(st["attempts"]) / max(1, len(st["attempts"])),
            "sinks.bytes_written_per_user_byte": st["written"] / max(1, st["user"]),
            "sinks.files_per_version": sum(st["files"]) / max(1, len(st["files"])),
            "sinks.retained_versions": sum(st["versions"]) / max(1, len(st["versions"])),
        }


WORKLOADS = {"serve": Serve, "composite": Composite, "ingest": Ingest}
