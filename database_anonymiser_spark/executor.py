"""Plan executor: one per-table core, two publish targets, footer counts.

Rebuilds ``src/executor/executor.ts:87-147`` on Spark's immutable model as
ONE plan loop (``_run_plan``) for dryrun and apply:
- dryrun (C4): mask each table and report its affected rows — the counts
  the reference gets from UPDATE-under-ROLLBACK, with zero writes.
- apply (C5): every table is staged into a publish target, which publishes
  only after ALL tables staged. Any failure discards every staging and
  publishes NOTHING — the reference's single wrapping transaction
  (``src/main.ts:102-111`` BEGIN…COMMIT, ROLLBACK on error). The targets:
  staged directories promoted by a journaled, crash-atomic rename
  (``execute_plan``), and invisible files in commit-log tables published
  by metadata-only commits (``execute_plan_versioned``).
- No row count runs a Spark job. The mask is a pure projection, so a table
  with ≥1 active rewrite affects all its rows: dryrun reads the source's
  parquet footers, apply the footers of the files it wrote.

100 TB posture:
- The mask is one narrow projection — no shuffle, no Python; executors stream
  parquet in and out. Cost is IO-bound and embarrassingly parallel.
- Tables are independent jobs; ``parallelism`` submits them concurrently from
  a thread pool so a 1000-executor cluster isn't serialized on one table's
  tail (the reference is strictly sequential, executor.ts:104-132).
- Staged writes are file-size governed: ``max_records_per_file`` caps every
  output file (SURVEY.md §7) so a 100 TB apply neither emits multi-TB
  single files nor a small-file storm — Spark splits each task's output at
  the cap with no extra shuffle.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from database_anonymiser_spark.catalog import ParquetCatalog
from database_anonymiser_spark.planner import Plan, PlannedTable
from database_anonymiser_spark.safeguards import DEFAULT_ROW_CAP, enforce_row_cap
from database_anonymiser_spark.strategies import (
    masked_projection,
    normalize_columns_for_types,
)

log = logging.getLogger(__name__)

PROMOTE_MANIFEST = "_promote_manifest.json"

#: Default cap on records per staged output file (SURVEY.md §7). At ~100-200
#: bytes/row of masked TPC-H-ish data this lands files in the 100 MB–1 GB
#: band object stores and downstream scans like.
DEFAULT_MAX_RECORDS_PER_FILE = 5_000_000

#: Tables masked and staged concurrently (``execute_plan``'s ``parallelism``).
DEFAULT_PARALLELISM = 4


@dataclass
class TableResult:
    table: str
    rows: int = 0
    skipped: bool = False
    error: str | None = None
    downgrades: list[dict] = field(default_factory=list)


@dataclass
class ExecutionResult:
    mode: str
    updated_by_table: dict[str, int] = field(default_factory=dict)
    tables: list[TableResult] = field(default_factory=list)
    rolled_back: bool = False  # apply only: a table failed → nothing promoted

    @property
    def total_rows(self) -> int:
        """≅ main.ts:80-83 — sum of per-table affected counts (A2)."""
        return sum(self.updated_by_table.values())

    @property
    def failed_tables(self) -> list["TableResult"]:
        return [tr for tr in self.tables if tr.error is not None]


def mask_table(catalog: ParquetCatalog, planned: PlannedTable):
    """Read + type-safety normalize + projection for one table.

    Returns (masked_df, active_rewrites, downgrades). Mirrors the per-table
    body of executor.ts:104-132: live schema re-read (:108), normalize
    (:109-116), compile (:118).
    """
    df = catalog.read(planned.name)
    normalized = normalize_columns_for_types(list(planned.columns), df.schema)
    masked, active = masked_projection(df, normalized)
    downgrades = [
        {"column": nc.column, "from": nc.downgraded_from, "reason": nc.reason}
        for nc in normalized
        if nc.downgraded_from
    ]
    return masked, active, downgrades


def recover_pending_promote(output_root: Path) -> list[str]:
    """Roll FORWARD a promote interrupted by a driver crash.

    The manifest is journaled only after every table's staging write
    succeeded, so each recorded rename is unconditionally safe to finish:
    if the staging directory still exists the crash hit before its rename
    (promote it now); if it's gone the rename already happened. Called at
    the start of every apply; returns the tables rolled forward. The
    reference gets this from Postgres' atomic COMMIT (main.ts:111); this is
    the filesystem-rename equivalent, write-ahead-log style.
    """
    manifest = output_root / PROMOTE_MANIFEST
    if not manifest.exists():
        return []
    try:
        entries = json.loads(manifest.read_text())
    except ValueError:
        # A torn manifest can only mean the crash hit during the journal
        # write itself — which happens strictly BEFORE the first rename, so
        # nothing was promoted and discarding the journal is safe. (The
        # write is temp-file + atomic os.replace, so this is belt-and-
        # braces for non-atomic filesystems.)
        log.warning("discarding unparseable promote manifest (crash during journal write)")
        manifest.unlink()
        return []
    recovered = []
    for entry in entries:
        staging, final = Path(entry["staging"]), Path(entry["final"])
        if staging.exists():
            _promote(staging, final)
            recovered.append(entry["table"])
    manifest.unlink()
    if recovered:
        log.warning("rolled forward interrupted promote for: %s", ", ".join(recovered))
    return recovered


def _footer_rows(path: str | Path) -> int:
    """Rows of a parquet file or directory from its footers: no Spark job.
    pyarrow skips Spark's ``_SUCCESS`` and ``.crc`` side files."""
    import pyarrow.dataset as ds

    return ds.dataset(str(path), format="parquet").count_rows()


class _StagedDirTarget:
    """Publish target of :func:`execute_plan`: ``_staging_*`` directories,
    renamed to ``<table>.parquet`` under a promote journal."""

    def __init__(self, output_root: Path, max_records_per_file: int):
        self.root = output_root
        self.max_records_per_file = max_records_per_file
        self.staged: dict[str, Path] = {}

    def stage(self, planned: PlannedTable, masked) -> int:
        staging = self.root / f"_staging_{planned.name}_{uuid.uuid4().hex[:8]}"
        # recorded before the write, so discard also removes a partial one
        self.staged[planned.name] = staging
        # File-size governance (SURVEY.md §7): cap records per output file so
        # apply output is neither giant files nor a small-file storm.
        masked.write.option("maxRecordsPerFile", self.max_records_per_file).mode(
            "overwrite"
        ).parquet(str(staging))
        return _footer_rows(staging)

    def discard(self) -> None:
        for staging in self.staged.values():
            shutil.rmtree(staging, ignore_errors=True)

    def publish(self, tables: list[PlannedTable]) -> None:
        promotions = [
            (self.staged[p.name], self.root / f"{p.name}.parquet") for p in tables
        ]
        # Journal-then-rename: a crash anywhere in the loop is rolled forward
        # by recover_pending_promote on the next apply. The journal itself
        # lands atomically (temp + os.replace) so a crash mid-journal can
        # never leave a torn manifest that blocks future applies.
        manifest = self.root / PROMOTE_MANIFEST
        tmp = self.root / f"{PROMOTE_MANIFEST}.tmp"
        tmp.write_text(
            json.dumps(
                [
                    {"table": final.stem, "staging": str(staging), "final": str(final)}
                    for staging, final in promotions
                ]
            )
        )
        os.replace(tmp, manifest)
        for staging, final in promotions:
            _promote(staging, final)
        manifest.unlink()


class _VersionedTarget:
    """Publish target of :func:`execute_plan_versioned`: invisible data
    files in commit-log tables, then one metadata-only commit per table."""

    def __init__(self, catalog: ParquetCatalog, tables_root: Path):
        self.catalog = catalog
        self.root = tables_root
        self.touched: list = []
        self.staged: dict[str, tuple] = {}

    def stage(self, planned: PlannedTable, masked) -> int:
        from database_anonymiser_spark.sources import versioned as V

        t_root = self.root / planned.name
        if (t_root / "_log").is_dir():
            t = V.VersionedTable(self.catalog.spark, t_root)
        else:
            t = V.VersionedTable.create(
                self.catalog.spark, t_root, self.catalog.read(planned.name), key_col=None
            )
        self.touched.append(t)
        adds = V._write_data_files(masked, t.root, None)
        self.staged[planned.name] = (t, adds)
        return sum(e.num_rows for e in adds)

    def discard(self) -> None:
        for t in self.touched:
            # grace 0: these are OUR just-staged files (single writer
            # inside the apply run), not a concurrent writer's in-flight
            # window
            t.vacuum(orphan_grace_s=0)

    def publish(self, tables: list[PlannedTable]) -> None:
        from database_anonymiser_spark.sources.versioned import _commit

        for planned in tables:
            t, adds = self.staged[planned.name]
            v = t.latest_version()
            removes = [e["path"] for e in t._live_entries(v)]
            _commit(t.root, v + 1, adds, removes, t.key_col(), op="anonymise")


def _execute_table(catalog: ParquetCatalog, planned: PlannedTable, target) -> TableResult:
    """One table's mask, then its affected-row count (dryrun, ``target``
    None) or its staging into ``target``. NEVER publishes — the caller
    publishes all-or-nothing."""
    res = TableResult(table=planned.table)
    try:
        masked, active, downgrades = mask_table(catalog, planned)
        res.downgrades = downgrades
        if active == 0:
            # zero effective SETs → skip (query-builder.ts:54-56, executor.ts:120-124)
            res.skipped = True
        elif target is None:
            # the mask is a pure projection: every source row is affected
            res.rows = _footer_rows(catalog.table_path(planned.name))
        else:
            res.rows = target.stage(planned, masked)
    except Exception as e:  # per-table failure isolation, reported not swallowed
        log.exception("table %s failed", planned.table)
        res.error = f"{type(e).__name__}: {e}"
    return res


def _run_plan(
    catalog: ParquetCatalog, plan: Plan, target, parallelism: int
) -> ExecutionResult:
    """The one plan loop of dryrun and both apply targets. Tables are
    independent, so they are submitted concurrently from a thread pool.
    An apply publishes only when every table staged; otherwise it
    discards every staging (main.ts:102-111 ROLLBACK)."""
    result = ExecutionResult(mode="dryrun" if target is None else "apply")
    with ThreadPoolExecutor(max_workers=parallelism) as pool:
        result.tables = list(
            pool.map(lambda t: _execute_table(catalog, t, target), plan.tables)
        )
    if target is not None:
        if result.failed_tables:
            result.rolled_back = True
            target.discard()
            return result
        target.publish(
            [p for p, tr in zip(plan.tables, result.tables) if not tr.skipped]
        )
    result.updated_by_table = {
        tr.table: tr.rows
        for tr in result.tables
        if not tr.skipped and tr.error is None
    }
    return result


def _promote(staging: Path, final: Path) -> None:
    """Same-filesystem rename promote (near-atomic, data-independent)."""
    if final.exists():
        shutil.rmtree(final, ignore_errors=True) if final.is_dir() else final.unlink()
    staging.rename(final)


def execute_plan_versioned(
    catalog: ParquetCatalog,
    plan: Plan,
    tables_root: str | Path,
    dryrun: bool = True,
    row_cap: int = DEFAULT_ROW_CAP,
    force: bool = False,
) -> ExecutionResult:
    """Transactional apply through the commit-log tables — the SURVEY §7
    "faithful rollback" upgrade path over the staged-promote apply.

    Each table lives as a :class:`~database_anonymiser_spark.sources.versioned.VersionedTable`
    under ``tables_root/<name>`` (created from the catalog source on first
    touch; version 0 is the pristine table). Apply commits ONE
    ``anonymise`` version per table that replaces the live set with the
    masked rewrite; dryrun is :func:`execute_plan`'s — it touches no
    target, so it writes and commits nothing. A failed apply commits
    nothing; a committed one is undone by ``restore()`` (forward,
    auditable), not by hoping a rename didn't land.

    All-or-nothing across tables, two-phase:
    1. every table's masked data files are fully written while INVISIBLE
       (referenced by no commit) — any failure here commits nothing and
       the orphans are vacuumed on EVERY table phase 1 touched, including
       one that failed mid-write. Tables first created during this run
       keep their committed version-0 pristine copy after rollback —
       version 0 is a real commit of the unmasked source, by design;
    2. the per-table commits are pure metadata (one tiny exclusive-create
       each). A crash inside this window can leave a prefix committed —
       recovery is ``restore(v-1)`` per committed table; Delta itself has
       no multi-table transactions, and the window is milliseconds versus
       phase 1's hours at 100 TB.

    NOTE: the log retains the pre-image until vacuumed past retention —
    time travel to the unmasked original is the point for staging-copy
    workflows (the reference also runs against a copy DB), but production
    anonymisation should vacuum old versions.
    """
    dry = execute_plan(catalog, plan, dryrun=True)
    if dryrun:
        return dry
    enforce_row_cap(dry.total_rows, cap=row_cap, force=force)
    target = _VersionedTarget(catalog, Path(tables_root))
    return _run_plan(catalog, plan, target, DEFAULT_PARALLELISM)


def execute_plan(
    catalog: ParquetCatalog,
    plan: Plan,
    dryrun: bool = True,
    output_root: str | Path | None = None,
    row_cap: int = DEFAULT_ROW_CAP,
    force: bool = False,
    parallelism: int = DEFAULT_PARALLELISM,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> ExecutionResult:
    """≅ executePlan (executor.ts:87-147) with staged-write apply.

    Apply enforces the row cap from a dryrun count first (safeguards made
    live, SURVEY.md §2 C6), rolls forward any promote interrupted by a
    previous crash, and journals its own promote phase so IT is
    crash-atomic too.
    """
    if dryrun:
        return _run_plan(catalog, plan, None, parallelism)
    if not output_root:
        raise ValueError("apply mode requires output_root")
    out_root = Path(output_root)
    out_root.mkdir(parents=True, exist_ok=True)
    recover_pending_promote(out_root)
    dry = execute_plan(catalog, plan, dryrun=True, parallelism=parallelism)
    enforce_row_cap(dry.total_rows, cap=row_cap, force=force)
    target = _StagedDirTarget(out_root, max_records_per_file)
    return _run_plan(catalog, plan, target, parallelism)
