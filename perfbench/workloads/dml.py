"""The DML part of ``dml_curate``: writes beside reads on one versioned ``orders`` table.

One operation is a script of ``SCRIPT`` statements, run the way the CLI's
``--sql`` mode runs them: ``UPDATE`` / ``DELETE`` / ``MERGE`` through
``sql_dml.execute_dml`` on a table registered as ``format("versioned")``,
and point / range ``SELECT``s through the same registered view. Write bands
are skewed: a hot tenth of the key space takes ``HOT_SHARE`` of the
writes. After its ``WRITES_PER_MAINT`` writes a script compacts and
vacuums the table, then reads the version of the previous maintenance
point (time travel). Each statement is timed on its own; the script time
is their sum.

Every statement is replayed on DuckDB (MERGE as DELETE + INSERT); every
read must equal the DuckDB answer, and at each maintenance point the
whole snapshot must too.
"""

from __future__ import annotations

import json
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, stats
from perfbench.workloads.base import Workload, metric, timing

N_ROWS = 60_000
N_FILES = 8
N_CUSTOMERS = 4_000
HOT_SHARE = 0.8
UPDATE_WIDTH = 300
DELETE_WIDTH = 40
MERGE_ROWS = 120
RANGE_WIDTH = 150
WRITES_PER_MAINT = 6
#: one round: three writes and three reads
ROUND = ("update", "point", "merge", "range", "delete", "point")
SCRIPT = ROUND * (WRITES_PER_MAINT // 3) + ("maint", "travel")
WRITES = {"update", "delete", "merge"}
READS = {"point", "range", "travel"}
COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"


class DmlChurn(Workload):

    def setup(self, spark, work: Path) -> None:
        from database_anonymiser_spark.sources.spark_datasource import VersionedDataSource
        from database_anonymiser_spark.sources.versioned import VersionedTable

        self.spark = spark
        rng = np.random.default_rng(self.seed)
        src = gen.orders_table(rng, N_ROWS, N_CUSTOMERS)
        work.mkdir(parents=True, exist_ok=True)
        src_path = work / "orders.parquet"
        pq.write_table(src, src_path)
        self.row_bytes = src_path.stat().st_size / N_ROWS
        self.root = work / "orders_v"
        df = (spark.read.parquet(str(src_path)).repartitionByRange(N_FILES, "o_orderkey")
              .sortWithinPartitions("o_orderkey"))
        # one file per key range: keep AQE from folding the ranges together
        coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(coalesce)
        spark.conf.set(coalesce, "false")
        try:
            self.table = VersionedTable.create(spark, self.root, df, key_col="o_orderkey")
        finally:
            spark.conf.set(coalesce, prev)
        spark.dataSource.register(VersionedDataSource)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        (spark.read.format("versioned").option("path", str(self.root))
         .option("pushdown", "true").load().createOrReplaceTempView("orders"))
        self.views = {"orders": {"root": str(self.root), "pinned": False}}
        self.src_path = src_path
        self.next_key = N_ROWS
        #: the version a time-travel read reads: the previous maintenance
        #: point (the created table before the first)
        self.travel_version = self.maint_version = self.table.latest_version()
        self.target_file_bytes = int(sum(p.stat().st_size for p in self.root.rglob("*.parquet"))
                                     / N_FILES)

    def setup_checks(self) -> None:
        self.duck = duckdb.connect()
        self.duck.execute(f"CREATE TABLE orders AS SELECT * FROM read_parquet('{self.src_path}')")
        self.duck.execute("CREATE OR REPLACE TABLE orders_at_maint AS SELECT * FROM orders")
        self.duck.execute("CREATE OR REPLACE TABLE orders_at_travel AS SELECT * FROM orders")

    def teardown(self) -> None:
        self.duck.close()

    # ---- the statement schedule ----

    def _band(self, rng, width: int) -> tuple[int, int]:
        hi_bound = N_ROWS // 10 if rng.random() < HOT_SHARE else self.next_key
        lo = int(rng.integers(0, max(1, hi_bound - width)))
        return lo, lo + width - 1

    def render(self, j: int, kind: str) -> tuple[str, object]:
        """SQL of statement ``j`` (and a MERGE's source rows)."""
        rng = np.random.default_rng([self.seed, j])
        if kind == "update":
            lo, hi = self._band(rng, UPDATE_WIDTH)
            d = int(rng.integers(1, 100)) * 0.25
            return (f"UPDATE orders SET o_totalprice = o_totalprice + {d}, o_orderstatus = 'U' "
                    f"WHERE o_orderkey BETWEEN {lo} AND {hi}"), None
        if kind == "delete":
            lo, hi = self._band(rng, DELETE_WIDTH)
            return f"DELETE FROM orders WHERE o_orderkey BETWEEN {lo} AND {hi}", None
        if kind == "merge":
            lo, _ = self._band(rng, MERGE_ROWS)
            keys = np.r_[np.arange(lo, lo + MERGE_ROWS // 2),
                         np.arange(self.next_key, self.next_key + MERGE_ROWS // 2)]
            self.next_key += MERGE_ROWS // 2
            src = gen.orders_table(rng, len(keys), N_CUSTOMERS)
            src = src.set_column(0, "o_orderkey", pa.array(keys.astype(np.int64)))
            return ("MERGE INTO orders t USING merge_src s ON t.o_orderkey = s.o_orderkey "
                    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"), src
        if kind == "point":
            k = int(rng.integers(0, self.next_key))
            return f"SELECT {COLS} FROM orders WHERE o_orderkey = {k}", None
        if kind in ("range", "travel"):
            lo, hi = self._band(rng, RANGE_WIDTH)
            return f"SELECT {COLS} FROM orders WHERE o_orderkey BETWEEN {lo} AND {hi}", None
        return "", None

    # ---- one operation ----

    def op(self, i: int) -> dict:
        stmts, errs = [], []
        for k, kind in enumerate(SCRIPT):
            rec = self.run_statement(i, i * len(SCRIPT) + k, kind)
            errs.extend(rec.pop("errors"))
            stmts.append(rec)
        return {"op_s": sum(r["op_s"] for r in stmts), "statements": stmts, "errors": errs}

    def run_statement(self, i: int, j: int, kind: str) -> dict:
        """Statement ``j`` (of script ``i``): timed, then checked against
        the DuckDB replica outside the timed region."""
        from database_anonymiser_spark import sql_dml
        from database_anonymiser_spark.sources import versioned

        sql, src = self.render(j, kind)
        rec = {"kind": kind}
        errs: list[str] = []
        if kind in WRITES:
            if src is not None:
                self.spark.createDataFrame(src).createOrReplaceTempView("merge_src")
            reads0 = (versioned.COMMIT_READS, versioned.DATA_FILES_READ)
            with self.op_span(i, kind), self.timed() as r:
                res = sql_dml.execute_dml(self.spark, sql, self.views)
            rec["commit_reads"] = versioned.COMMIT_READS - reads0[0]
            rec["data_files_read"] = versioned.DATA_FILES_READ - reads0[1]
            rec.update(self._commit_facts(res["new_version"]))
            rec["rows_changed"] = self._replay(sql, src)
        elif kind == "maint":
            with self.op_span(i, kind), self.timed() as r:
                self.table.compact(target_file_bytes=self.target_file_bytes)
                self.table.vacuum(retain_versions=WRITES_PER_MAINT + 8)
            errs.extend(self._check_snapshot())
            self.travel_version, self.maint_version = self.maint_version, self.table.latest_version()
            self.duck.execute("CREATE OR REPLACE TABLE orders_at_travel AS SELECT * FROM orders_at_maint")
            self.duck.execute("CREATE OR REPLACE TABLE orders_at_maint AS SELECT * FROM orders")
        else:
            with self.op_span(i, kind), self.timed() as r:
                if kind == "travel":
                    df = (self.spark.read.format("versioned").option("path", str(self.root))
                          .option("versionAsOf", str(self.travel_version)).load())
                    df.createOrReplaceTempView("orders_then")
                    rows = self.spark.sql(sql.replace("FROM orders", "FROM orders_then")).collect()
                else:
                    rows = self.read(sql)
            table = "orders_at_travel" if kind == "travel" else "orders"
            want = self.duck.execute(sql.replace("FROM orders", f"FROM {table}")).fetchall()
            got = sorted(tuple(r) for r in rows)
            if got != sorted(want):
                errs.append(f"{kind} read {sql!r}: {len(got)} rows differ from DuckDB ({len(want)})")
            rec["rows"] = len(rows)
        rec["op_s"] = r["s"]
        rec["errors"] = errs
        return rec

    def read(self, sql: str):
        return self.spark.sql(sql).collect()

    def _commit_facts(self, version: int) -> dict:
        from database_anonymiser_spark.sources.versioned import _log_path

        rec = json.loads(_log_path(self.root, version).read_text())
        removed = set(rec.get("removes", []))
        fresh = [a for a in rec.get("adds", []) if a["path"] not in removed and not a.get("dv")]
        added_bytes = sum(a.get("size") or (self.root / a["path"]).stat().st_size for a in fresh)
        return {"files_rewritten": len(removed), "rows_rewritten": sum(a.get("num_rows") or 0 for a in fresh),
                "bytes_added": added_bytes, "version": version}

    def _replay(self, sql: str, src) -> int:
        """Apply the statement to the DuckDB replica; returns rows changed."""
        if src is None:
            return int(self.duck.execute(sql).fetchone()[0])
        self.duck.register("merge_src", src)
        self.duck.execute("DELETE FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM merge_src)")
        self.duck.execute("INSERT INTO orders SELECT * FROM merge_src")
        self.duck.unregister("merge_src")
        return src.num_rows

    def _check_snapshot(self) -> list[str]:
        from pyspark.sql import functions as F

        snap = self.table.snapshot().select(*[F.col(c.strip()) for c in COLS.split(",")])
        got = snap.withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp_ntz")).toArrow()
        self.duck.register("spark_snap", got)
        try:
            diff = self.duck.execute(
                "SELECT (SELECT count(*) FROM (SELECT * FROM spark_snap EXCEPT ALL SELECT * FROM orders)), "
                "(SELECT count(*) FROM (SELECT * FROM orders EXCEPT ALL SELECT * FROM spark_snap))"
            ).fetchone()
        finally:
            self.duck.unregister("spark_snap")
        return [] if diff == (0, 0) else [f"snapshot differs from DuckDB replay: {diff}"]

    def final_check(self) -> list[str]:
        return self._check_snapshot()

    # ---- reporting ----

    def summary(self, recs: list[dict]) -> dict:
        out: dict = {}
        stmts = [s for r in recs for s in r["statements"]]
        writes = [r for r in stmts if r["kind"] in WRITES]
        reads = [r for r in stmts if r["kind"] in READS]
        timing("write_s_p50", [r["op_s"] for r in writes], out, "write_s_p90")
        timing("read_s_p50", [r["op_s"] for r in reads], out, "read_s_p90")
        timing("maintenance_s", [r["op_s"] for r in stmts if r["kind"] == "maint"], out)
        changed = sum(r["rows_changed"] for r in writes) * self.row_bytes
        if changed:
            out["bytes_written_per_input_byte"] = metric(
                sum(r["bytes_added"] for r in writes) / changed, "ratio", len(writes))
        return out

    def install_trace(self, tracer) -> None:
        from database_anonymiser_spark import sql_dml
        from database_anonymiser_spark.sources.versioned import VersionedTable

        self.tracer = tracer
        tracer.wrap(sql_dml, "execute_dml", "sql_dml.execute")
        for attr, name in (("update_where", "update"), ("delete_where", "delete"),
                           ("merge", "merge"), ("compact", "compact"), ("vacuum", "vacuum")):
            tracer.wrap(VersionedTable, attr, f"versioned.{name}")
        tracer.wrap(self, "read", "datasource.read")

    def layer_metrics(self, tracer, counters, recs: list[dict], extra: dict) -> dict:
        from perfbench.trace import self_times

        out: dict = {}
        st = self_times(tracer.spans)
        stmts = [s for r in recs for s in r["statements"]]
        writes = [r for r in stmts if r["kind"] in WRITES]
        dml = self.spans("sql_dml.execute")
        if dml:
            out["sql_dml.self_s"] = metric(stats.median(st[s.id] for s in dml), "s", len(dml))
            out["sql_dml.statements"] = metric(len(dml), "count", len(dml))
        for name in ("update", "delete", "merge", "compact", "vacuum"):
            sp = self.spans(f"versioned.{name}")
            if sp:
                out[f"versioned.{name}_s"] = metric(stats.median(s.duration for s in sp), "s", len(sp))
        if writes:
            n = len(writes)
            for key, name in (("commit_reads", "commit_reads_per_op"),
                              ("data_files_read", "data_files_read_per_op"),
                              ("files_rewritten", "files_rewritten_per_write")):
                out[f"versioned.{name}"] = metric(sum(r[key] for r in writes) / n, "count", n)
            changed = sum(r["rows_changed"] for r in writes)
            out["versioned.rows_rewritten_per_row_changed"] = metric(
                sum(r["rows_rewritten"] for r in writes) / max(1, changed), "ratio", n)
        detail = self.table.detail()
        out["versioned.log_versions"] = metric(detail["version"] + 1, "count", 1)
        out["versioned.live_files"] = metric(detail["num_files"], "count", 1)
        rd = self.spans("datasource.read")
        if rd:
            out["datasource.read_s"] = metric(stats.median(s.duration for s in rd), "s", len(rd))
            out["datasource.files_scanned_per_read"] = metric(
                sum(counters.for_span(s)["tasks"] for s in rd) / len(rd), "count", len(rd))
            rows = [r["rows"] for r in stmts if r["kind"] in ("point", "range")]
            out["datasource.rows_per_read"] = metric(sum(rows) / max(1, len(rows)), "count", len(rows))
        return out
