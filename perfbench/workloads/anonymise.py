"""anonymise_release: the anonymiser's own product loop, one release per op.

One operation is the four CLI invocations a user runs for a release, each
timed on its own: ``generate_config`` (configGen) → a reviewed config that
uses every strategy → ``build_plan`` + ``preflight_validate`` +
``execute_plan`` dryrun → the same plan applied (staged write + promote)
→ ``k_anonymity_summary`` over the applied ``customer`` (audit).

Outputs are checked against values computed here independently of Spark:
``hashlib``/``hmac`` for the hash family, the RFC 2104 pad construction
for HASH_KEYED, ``'***'``, prefixes, ``NULL`` and untouched values, read
back through DuckDB; the audit verdict is recomputed by a DuckDB
``GROUP BY`` over the output.
"""

from __future__ import annotations

import hashlib
import hmac
import os
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, stats
from perfbench.workloads.base import Workload, metric, timing

#: the reviewed config: table → column → (strategy, params). Every
#: strategy appears; c_acctbal / s_acctbal are numbers, so the executor's
#: type-safety pass downgrades their string-only strategies to KEEP.
REVIEW = {
    "customer": {"c_name": ("HASH_SHA256", {}), "c_mktsegment": ("REDACT", {}),
                 "c_acctbal": ("REDACT", {})},
    "supplier": {"s_name": ("HASH_HMAC", {}), "s_acctbal": ("TRUNCATE", {})},
    "part": {"p_name": ("HASH_SHA256_REAL", {}), "p_brand": ("TRUNCATE", {"n": 7}),
             "p_type": ("HASH_KEYED", {})},
    "orders": {"o_orderpriority": ("EMAIL_FAKE", {}), "o_orderstatus": ("SET_NULL", {})},
    "lineitem": {"l_returnflag": ("REDACT", {}), "l_linestatus": ("HASH_SHA256", {})},
    "events": {"event_type": ("HASH_SHA256", {}), "props": ("SET_NULL", {})},
    "documents": {"text": ("TRUNCATE", {"n": 16})},
    "nation": {"n_name": ("REDACT", {})},
    "region": {"r_name": ("EMAIL_FAKE", {})},
}
DOWNGRADED = {("customer", "c_acctbal"), ("supplier", "s_acctbal")}
KEYS = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"], "part": ["p_partkey"],
    "orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"], "documents": ["doc_id"], "nation": ["n_nationkey"],
    "region": ["r_regionkey"],
}
#: strategies whose output can never equal a source value
LEAK_FREE = {"HASH_SHA256", "HASH_SHA256_REAL", "HASH_HMAC", "HASH_KEYED",
             "EMAIL_FAKE", "REDACT"}
AUDIT_QUASI = ["c_nationkey", "c_mktsegment"]
AUDIT_K = 150
SAMPLE_ROWS = 40


def _pads(key: bytes) -> tuple[bytes, bytes]:
    kb = hashlib.sha256(key).digest() if len(key) > 64 else key
    kb = kb.ljust(64, b"\x00")
    return bytes(b ^ 0x36 for b in kb), bytes(b ^ 0x5C for b in kb)


def expected_value(strategy: str, params: dict, v, key: bytes):
    """The masked value of ``v``, computed without Spark."""
    if strategy == "KEEP":
        return v
    if strategy == "SET_NULL":
        return None
    if strategy == "REDACT":
        return "***"
    s = "" if v is None else str(v)
    if strategy == "HASH_SHA256":  # md5, as in the reference
        return hashlib.md5(s.encode()).hexdigest()
    if strategy == "HASH_SHA256_REAL":
        return hashlib.sha256(s.encode()).hexdigest()
    if strategy == "HASH_HMAC":
        return hmac.new(key, s.encode(), hashlib.sha256).hexdigest()
    if strategy == "HASH_KEYED":
        ipad, opad = _pads(key)
        inner = hashlib.sha256((ipad.hex() + s).encode()).hexdigest()
        return hashlib.sha256((opad.hex() + inner).encode()).hexdigest()
    if strategy == "TRUNCATE":
        return s[: int(params.get("n", 4))]
    if strategy == "EMAIL_FAKE":
        return hashlib.md5(s.encode()).hexdigest() + "@example.com"
    raise ValueError(f"no expectation for {strategy}")


class AnonymiseRelease(Workload):

    def setup(self, spark, work: Path) -> None:
        from database_anonymiser_spark.catalog import ParquetCatalog

        self.spark = spark
        self.in_dir = work / "in"
        self.out_dir = work / "out"
        tables = gen.anonymise_tables(self.seed)
        self.src_bytes = gen.write_tables(tables, self.in_dir)
        self.src_rows = {t: tbl.num_rows for t, tbl in tables.items()}
        self.catalog = ParquetCatalog(spark, self.in_dir)
        self.key = os.environ["ANONYMISER_HMAC_KEY"].encode()
        self.parallelism = min(4, self.nproc)

    def review(self, config):
        config.reviewed = True
        for rule in config.rules:
            chosen = REVIEW.get(rule.table.split(".", 1)[1], {})
            for col in rule.columns:
                if col.name in chosen:
                    col.strategy, col.params = chosen[col.name][0], dict(chosen[col.name][1])
        return config

    def op(self, i: int) -> dict:
        from database_anonymiser_spark import config_gen, executor, planner, preflight
        from database_anonymiser_spark.catalog import ParquetCatalog
        from database_anonymiser_spark.operators import privacy

        parts = {}
        with self.op_span(i, "release"):
            with self.timed() as r:
                art = config_gen.generate_config(self.catalog)
            parts["configgen_s"] = r["s"]
            config = self.review(art.config)

            with self.timed() as r:
                preflight.preflight_validate(config, "dryrun")
                plan = planner.build_plan(config)
                dry = executor.execute_plan(self.catalog, plan, dryrun=True,
                                            parallelism=self.parallelism)
            parts["dryrun_s"] = r["s"]

            with self.timed() as r:
                preflight.preflight_validate(config, "apply")
                plan = planner.build_plan(config)
                applied = executor.execute_plan(self.catalog, plan, dryrun=False,
                                                output_root=self.out_dir,
                                                parallelism=self.parallelism)
            parts["apply_s"] = r["s"]

            with self.timed() as r:
                out_cat = ParquetCatalog(self.spark, self.out_dir)
                verdict = privacy.k_anonymity_summary(out_cat.read("customer"), AUDIT_QUASI, AUDIT_K)
            parts["audit_s"] = r["s"]
        rec = {"op_s": sum(parts.values()), **parts,
               "rows_written": applied.total_rows,
               "n_planned_columns": sum(len(t.columns) for t in plan.tables)}
        rec.update(self.output_facts())
        rec["errors"] = self.check(i, dry, applied, verdict)
        return rec

    def output_facts(self) -> dict:
        files = [p for t in REVIEW for p in (self.out_dir / f"{t}.parquet").glob("*.parquet")]
        out_bytes = sum(p.stat().st_size for p in files)
        in_bytes = sum(self.src_bytes[t] for t in REVIEW)
        return {"files_written": len(files), "bytes_written": out_bytes,
                "bytes_per_input_byte": out_bytes / in_bytes}

    # ---- output checks (outside the timed region) ----

    def check(self, i: int, dry, applied, verdict) -> list[str]:
        errs = []
        want = {t: self.src_rows[t] for t in REVIEW}
        got_dry = {k.split(".", 1)[1]: v for k, v in dry.updated_by_table.items()}
        got_apply = {k.split(".", 1)[1]: v for k, v in applied.updated_by_table.items()}
        if got_dry != want:
            errs.append(f"dryrun counts {got_dry} != source counts {want}")
        if got_apply != want:
            errs.append(f"apply counts {got_apply} != source counts {want}")
        skipped = {tr.table.split(".", 1)[1] for tr in applied.tables if tr.skipped}
        if skipped != {"embeddings"}:
            errs.append(f"skipped tables {skipped} != {{'embeddings'}}")
        downgraded = {(tr.table.split(".", 1)[1], d["column"])
                      for tr in applied.tables for d in tr.downgrades}
        if downgraded != DOWNGRADED:
            errs.append(f"downgrades {downgraded} != {DOWNGRADED}")
        con = duckdb.connect()
        try:
            rng = np.random.default_rng([self.seed, i])
            for table, cols in REVIEW.items():
                errs.extend(self._check_table(con, rng, table, cols))
            errs.extend(self._check_audit(con, verdict))
        finally:
            con.close()
        return errs

    def _out(self, table: str) -> str:
        return f"read_parquet('{self.out_dir / (table + '.parquet')}/*.parquet')"

    def _check_table(self, con, rng, table: str, cols: dict) -> list[str]:
        errs = []
        src_path = self.in_dir / f"{table}.parquet"
        n_out = con.execute(f"SELECT count(*) FROM {self._out(table)}").fetchone()[0]
        if n_out != self.src_rows[table]:
            errs.append(f"{table}: {n_out} output rows != {self.src_rows[table]} source rows")
        src = pq.read_table(src_path)
        idx = rng.choice(src.num_rows, min(SAMPLE_ROWS, src.num_rows), replace=False)
        sample = src.take(pa.array(idx))
        keys = KEYS[table]
        con.register("sample_src", sample)
        on = " AND ".join(f"o.{k} = s.{k}" for k in keys)
        names = sample.column_names
        rows = con.execute(
            f"SELECT {', '.join('s.' + c for c in names)}, {', '.join('o.' + c for c in names)} "
            f"FROM sample_src s LEFT JOIN {self._out(table)} o ON {on}"
        ).fetchall()
        con.unregister("sample_src")
        if len(rows) != sample.num_rows:
            errs.append(f"{table}: sampled keys matched {len(rows)} output rows, want {sample.num_rows}")
        k = len(names)
        for row in rows:
            s_row, o_row = row[:k], row[k:]
            for c, sv, ov in zip(names, s_row, o_row):
                strategy, params = cols.get(c, ("KEEP", {}))
                if (table, c) in DOWNGRADED:
                    strategy = "KEEP"
                want = expected_value(strategy, params, sv, self.key)
                if ov != want:
                    errs.append(f"{table}.{c} {strategy}: got {ov!r} want {want!r} (source {sv!r})")
                    break
            if len(errs) > 5:
                break
        for c, (strategy, _) in cols.items():
            if strategy not in LEAK_FREE or (table, c) in DOWNGRADED:
                continue
            leaked = con.execute(
                f"SELECT count(*) FROM (SELECT DISTINCT {c} AS v FROM {self._out(table)}) o "
                f"JOIN (SELECT DISTINCT {c} AS v FROM read_parquet('{src_path}')) s USING (v)"
            ).fetchone()[0]
            if leaked:
                errs.append(f"{table}.{c}: {leaked} source values appear in the output")
        return errs

    def _check_audit(self, con, verdict: dict) -> list[str]:
        g = ", ".join(AUDIT_QUASI)
        row = con.execute(
            f"SELECT count(*), sum(CASE WHEN n < {AUDIT_K} THEN 1 ELSE 0 END), "
            f"sum(CASE WHEN n < {AUDIT_K} THEN n ELSE 0 END), min(n), sum(n) "
            f"FROM (SELECT count(*) AS n FROM {self._out('customer')} GROUP BY {g})"
        ).fetchone()
        want = dict(zip(["n_classes", "n_violating_classes", "rows_at_risk", "k_actual", "n_rows"],
                        (int(x) for x in row)))
        want["satisfied"] = want["n_violating_classes"] == 0
        got = {k: verdict.get(k) for k in want}
        return [] if got == want else [f"audit {got} != duckdb {want}"]

    # ---- reporting ----

    def summary(self, recs: list[dict]) -> dict:
        out: dict = {}
        for part in ("configgen_s", "dryrun_s", "apply_s", "audit_s"):
            timing(part, [r[part] for r in recs], out)
        rps = [r["rows_written"] / r["apply_s"] for r in recs]
        out["apply_rows_per_s"] = metric(stats.median(rps), "1/s", len(rps))
        out["bytes_written_per_input_byte"] = metric(
            stats.median(r["bytes_per_input_byte"] for r in recs), "ratio", len(recs))
        return out

    def install_trace(self, tracer) -> None:
        from database_anonymiser_spark import config_gen, executor, planner, preflight
        from database_anonymiser_spark.catalog import ParquetCatalog
        from database_anonymiser_spark.operators import privacy

        self.tracer = tracer

        def plan_mode(args, kwargs):
            return "executor.dryrun" if kwargs.get("dryrun", True) else "executor.apply"

        def active(span, result):
            span.attrs["active"] = result[1]

        def n_classes(span, result):
            span.attrs["n_classes"] = result["n_classes"]

        tracer.wrap(ParquetCatalog, "list_tables", "catalog.list_tables")
        tracer.wrap(ParquetCatalog, "read", "catalog.read")
        tracer.wrap(config_gen, "generate_config", "config_gen.generate")
        tracer.wrap(planner, "build_plan", "planner.build_plan")
        tracer.wrap(preflight, "preflight_validate", "preflight.validate")
        tracer.wrap(executor, "execute_plan", plan_mode)
        tracer.wrap(executor, "mask_table", "executor.mask_table")
        tracer.wrap(executor, "normalize_columns_for_types", "strategies.normalize")
        tracer.wrap(executor, "masked_projection", "strategies.project", on_result=active)
        tracer.wrap(privacy, "k_anonymity_summary", "privacy.audit", on_result=n_classes)

    def trace_extras(self, tracer, traced: list[dict], deadline: float) -> dict:
        """Task time of a noop-sink write of every masked table, and of the
        same tables read raw: their difference is the mask's own cost."""
        from database_anonymiser_spark import config_gen, planner
        from database_anonymiser_spark.executor import mask_table

        plan = planner.build_plan(self.review(config_gen.generate_config(self.catalog).config))
        with tracer.span("extra.noop_masked"):
            for t in plan.tables:
                mask_table(self.catalog, t)[0].write.format("noop").mode("overwrite").save()
        with tracer.span("extra.noop_raw"):
            for t in plan.tables:
                self.catalog.read(t.name).write.format("noop").mode("overwrite").save()
        return {}

    def layer_metrics(self, tracer, counters, recs: list[dict], extra: dict) -> dict:
        from perfbench.trace import self_times

        out: dict = {}
        st = self_times(tracer.spans)
        cycles = sorted({s.cycle for s in tracer.spans if s.cycle is not None})
        n = len(cycles)
        by_id = {s.id: s for s in tracer.spans}

        def per_cycle(names, how="dur"):
            vals = {c: 0.0 for c in cycles}
            for s in tracer.spans:
                if s.cycle in vals and s.name in names:
                    vals[s.cycle] += {"dur": s.duration, "self": st[s.id], "count": 1}[how]
            return list(vals.values())

        def med(name, names, how="dur", unit="s"):
            out[name] = metric(stats.median(per_cycle(names, how)), unit, n)

        def top_level(name):
            return [s for s in tracer.spans if s.name == name and s.cycle is not None
                    and by_id[s.parent].name.startswith("op.")]

        def nested_dryruns():
            return [s for s in tracer.spans if s.name == "executor.dryrun"
                    and s.parent is not None and by_id[s.parent].name == "executor.apply"]

        def engine(spans, key):
            return sum(counters.for_span(s)[key] for s in spans)

        med("catalog.list_tables_s", {"catalog.list_tables"})
        med("catalog.read_s", {"catalog.read"})
        med("catalog.read_calls", {"catalog.read"}, "count", "count")
        med("config_gen.generate_s", {"config_gen.generate"})
        gen_spans = self.spans("config_gen.generate")
        out["config_gen.spark_jobs"] = metric(engine(gen_spans, "jobs") / n, "count", n)
        med("planner.build_plan_s", {"planner.build_plan"})
        med("preflight.validate_s", {"preflight.validate"})
        out["planner.columns"] = metric(stats.median(r["n_planned_columns"] for r in recs), "count", n)
        med("strategies.project_s", {"strategies.normalize", "strategies.project"})
        proj = self.spans("strategies.project")
        plans = self.spans("executor.dryrun") + self.spans("executor.apply")
        out["strategies.active_rewrites"] = metric(
            sum(s.attrs["active"] for s in proj) / len(plans), "count", n)
        masked = engine([s for s in tracer.spans if s.name == "extra.noop_masked"], "task_s")
        raw = engine([s for s in tracer.spans if s.name == "extra.noop_raw"], "task_s")
        out["strategies.mask_eval_task_s"] = metric(masked - raw, "s", 1)

        dry_top, applies, nested = top_level("executor.dryrun"), top_level("executor.apply"), nested_dryruns()
        out["executor.dryrun_s"] = metric(stats.median(s.duration for s in dry_top), "s", len(dry_top))
        out["executor.apply_s"] = metric(stats.median(s.duration for s in applies), "s", len(applies))
        out["executor.apply_dryrun_s"] = metric(stats.median(s.duration for s in nested), "s", len(nested))
        out["executor.write_s"] = metric(stats.median(st[s.id] for s in applies), "s", len(applies))
        out["executor.spark_jobs"] = metric(engine(dry_top + applies, "jobs") / n, "count", n)
        src = sum(self.src_bytes[t] for t in REVIEW)
        read = sum(counters.scan_bytes(s) for s in applies) - sum(
            counters.scan_bytes(s) for s in nested)
        out["executor.read_amplification"] = metric(read / len(applies) / src, "ratio", len(applies))
        out["executor.files_written"] = metric(stats.median(r["files_written"] for r in recs), "count", n)
        out["executor.bytes_written"] = metric(stats.median(r["bytes_written"] for r in recs), "bytes", n)
        med("privacy.audit_s", {"privacy.audit"})
        out["privacy.n_classes"] = metric(self.spans("privacy.audit")[-1].attrs["n_classes"], "count", n)
        return out
