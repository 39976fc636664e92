"""Atomic multi-statement SQL transactions (round 14): BEGIN..COMMIT
statement groups in --sql/--sqlFile scripts publish ONE commit per
touched table through the 2PC manifest — all-or-nothing, no
intermediate version EVER reader-visible (the reference's whole-apply
transaction, src/main.ts:102-111 / executor.ts:98-137).
"""

from __future__ import annotations

import json
import tempfile
from pathlib import Path

import pytest

from database_anonymiser_spark.cli import main as cli_main
from database_anonymiser_spark.sources.versioned import VersionedTable
from database_anonymiser_spark.sql_txn import (
    ScriptTransaction,
    SqlTxnError,
    abandoned_workspaces,
    classify_txn,
    sweep_workspaces,
)


def test_classify_txn():
    assert classify_txn("BEGIN") == "begin"
    assert classify_txn("  begin transaction ;") == "begin"
    assert classify_txn("START TRANSACTION") == "begin"
    assert classify_txn("COMMIT") == "commit"
    assert classify_txn("commit work") == "commit"
    assert classify_txn("ROLLBACK") == "rollback"
    # not transaction control
    assert classify_txn("START") is None           # bare START is not SQL
    assert classify_txn("BEGINNING") is None
    assert classify_txn("COMMIT x") is None
    assert classify_txn("UPDATE t SET a = 1") is None


@pytest.fixture()
def txn_env(spark, tmp_path):
    """Two versioned tables + a --data dir; returns (data_dir, root_a,
    root_b)."""
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    spark.createDataFrame([(1, "z")], "a int, b string").write.parquet(
        str(data_dir / "t0.parquet")
    )
    ra, rb = tmp_path / "ra", tmp_path / "rb"
    VersionedTable.create(
        spark, str(ra),
        spark.createDataFrame(
            [(1, "one"), (2, "two"), (3, "three"), (4, "four")],
            "k int, v string",
        ),
        key_col="k",
    )
    VersionedTable.create(
        spark, str(rb),
        spark.createDataFrame(
            [(1, 100.0), (2, 200.0), (3, 300.0)], "k int, amt double"
        ),
        key_col="k",
    )
    return data_dir, ra, rb


def _run(args):
    """The CLI, with its report (default: the working directory) under a
    temporary directory unless the test names one."""
    if "--report" in args:
        return cli_main(args)
    with tempfile.TemporaryDirectory() as d:
        return cli_main([*args, "--report", f"{d}/report.json"])


def _log_count(root: Path) -> int:
    return len(list((root / "_log").glob("*.json")))


def test_e2e_begin_commit_publishes_one_commit_per_table(spark, txn_env):
    data_dir, ra, rb = txn_env
    ta, tb = VersionedTable(spark, ra), VersionedTable(spark, rb)
    script = (
        "BEGIN;\n"
        "UPDATE ta SET v = upper(v) WHERE k <= 2;\n"
        "UPDATE ta SET v = concat(v, '!') WHERE k = 1;\n"
        "DELETE FROM tb WHERE k = 2;\n"
        "COMMIT;\n"
    )
    rc = _run([
        "--sql", script, "--data", str(data_dir),
        "--versionedTable", f"ta={ra}", "--versionedTable", f"tb={rb}",
    ])
    assert rc == 0
    # exactly ONE new commit per table, op txn_publish
    assert ta.latest_version() == 1 and tb.latest_version() == 1
    assert ta.commit_op(1) == "txn_publish"
    assert tb.commit_op(1) == "txn_publish"
    # composed effect: statement 2 saw statement 1's output
    rows = {r["k"]: r["v"] for r in ta.snapshot().collect()}
    assert rows == {1: "ONE!", 2: "TWO", 3: "three", 4: "four"}
    assert {r["k"] for r in tb.snapshot().collect()} == {1, 3}
    # CDF across the publish commit reads like any other commit
    ev = {(r["_change_type"], r["k"]) for r in ta.diff(0, 1).collect()}
    assert ev == {("update", 1), ("update", 2)}
    # workspace + manifest both gone
    assert not list((ra / "_txn").glob("ws-*"))
    assert not list((ra / "_txn").glob("*.json"))
    # time travel below the publish intact
    assert {r["v"] for r in ta.snapshot(0).collect()} == {
        "one", "two", "three", "four"
    }


def test_e2e_statement_failure_rolls_back_everything(spark, txn_env):
    """The atomicity headline: a failing statement mid-transaction means
    NO table shows ANY effect — not even the already-staged statements
    (round 13 would have committed them)."""
    data_dir, ra, rb = txn_env
    ta, tb = VersionedTable(spark, ra), VersionedTable(spark, rb)
    script = (
        "BEGIN;\n"
        "UPDATE ta SET v = 'gone' WHERE k = 1;\n"
        "DELETE FROM tb WHERE k = 1;\n"
        "UPDATE ta SET nope = 1;\n"   # unknown column → fails
        "COMMIT;\n"
    )
    rc = _run([
        "--sql", script, "--data", str(data_dir),
        "--versionedTable", f"ta={ra}", "--versionedTable", f"tb={rb}",
    ])
    assert rc == 2
    # zero new commits — not rolled-back-after-the-fact, NEVER visible
    assert ta.latest_version() == 0 and tb.latest_version() == 0
    assert _log_count(ra) == 1 and _log_count(rb) == 1
    assert {r["v"] for r in ta.snapshot().collect()} == {
        "one", "two", "three", "four"
    }
    assert tb.row_count() == 3
    # workspaces discarded
    assert not list((ra / "_txn").glob("ws-*"))


def test_e2e_explicit_rollback_and_open_begin(spark, txn_env):
    data_dir, ra, _rb = txn_env
    ta = VersionedTable(spark, ra)
    rc = _run([
        "--sql",
        "BEGIN; UPDATE ta SET v = 'x' WHERE k = 1; ROLLBACK;",
        "--data", str(data_dir), "--versionedTable", f"ta={ra}",
    ])
    assert rc == 0
    assert ta.latest_version() == 0
    # script ending inside BEGIN: refused, rolled back
    rc = _run([
        "--sql", "BEGIN; UPDATE ta SET v = 'y' WHERE k = 1;",
        "--data", str(data_dir), "--versionedTable", f"ta={ra}",
    ])
    assert rc == 2
    assert ta.latest_version() == 0
    assert not list((ra / "_txn").glob("ws-*"))


def test_e2e_maintenance_inside_txn_refused(spark, txn_env):
    data_dir, ra, _rb = txn_env
    rc = _run([
        "--sql",
        "BEGIN; UPDATE ta SET v = 'x' WHERE k = 1; OPTIMIZE ta; COMMIT;",
        "--data", str(data_dir), "--versionedTable", f"ta={ra}",
    ])
    assert rc == 2
    assert VersionedTable(spark, ra).latest_version() == 0


def test_e2e_truncate_inside_txn(spark, txn_env):
    """TRUNCATE TABLE inside BEGIN..COMMIT (round 15): the metadata-only
    dereference has an exact one-commit rendering — the publish's diff
    removes every base live file — and composes with later DML in the
    same transaction; ROLLBACK leaves the table untouched."""
    data_dir, ra, _rb = txn_env
    ta = VersionedTable(spark, ra)
    # rollback first: nothing happens
    rc = _run([
        "--sql", "BEGIN; TRUNCATE TABLE ta; ROLLBACK;",
        "--data", str(data_dir), "--versionedTable", f"ta={ra}",
    ])
    assert rc == 0
    assert ta.latest_version() == 0 and ta.snapshot().count() == 4
    # truncate-then-reload publishes as ONE commit
    rc = _run([
        "--sql",
        "BEGIN; TRUNCATE TABLE ta; "
        "INSERT INTO ta (k, v) VALUES (10, 'ten'); COMMIT;",
        "--data", str(data_dir), "--versionedTable", f"ta={ra}",
    ])
    assert rc == 0
    assert ta.latest_version() == 1
    assert ta.commit_op(1) == "txn_publish"
    assert {(r["k"], r["v"]) for r in ta.snapshot().collect()} == {
        (10, "ten")
    }
    # time travel below the publish shows the pre-transaction rows
    assert ta.snapshot(0).count() == 4


def test_txn_refusal_names_the_allowed_set(spark, txn_env):
    """The maintenance refusal message carries the transactionality
    matrix's allowed set (round-15 docs ask)."""
    from database_anonymiser_spark.sql_txn import ScriptTransaction

    data_dir, ra, _rb = txn_env
    txn = ScriptTransaction(spark, {"ta": {"root": str(ra), "pinned": False}})
    with pytest.raises(SqlTxnError) as ei:
        txn.execute("OPTIMIZE ta")
    msg = str(ei.value)
    for allowed in ("UPDATE", "DELETE FROM", "INSERT INTO",
                    "INSERT OVERWRITE", "MERGE INTO", "TRUNCATE TABLE"):
        assert allowed in msg
    with pytest.raises(SqlTxnError):
        txn.execute("ERASE FROM ta WHERE k = 1")
    with pytest.raises(SqlTxnError):
        txn.execute("VACUUM ta")
    txn.rollback()


def test_e2e_merge_and_insert_inside_txn(spark, txn_env):
    """MERGE INTO + INSERT inside a transaction: the merge source view
    reads the PRE-transaction snapshot (snapshot isolation for reads),
    the target fork carries earlier statements' effects."""
    data_dir, ra, _rb = txn_env
    ta = VersionedTable(spark, ra)
    spark.createDataFrame(
        [(2, "merged"), (9, "fresh")], "k int, v string"
    ).createOrReplaceTempView("txn_src")
    script = (
        "BEGIN;\n"
        "INSERT INTO ta (k, v) VALUES (7, 'seven');\n"
        "MERGE INTO ta t USING txn_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v);\n"
        "COMMIT;\n"
    )
    rc = _run([
        "--sql", script, "--data", str(data_dir),
        "--versionedTable", f"ta={ra}",
    ])
    assert rc == 0
    assert ta.latest_version() == 1
    rows = {r["k"]: r["v"] for r in ta.snapshot().collect()}
    assert rows == {
        1: "one", 2: "merged", 3: "three", 4: "four",
        7: "seven", 9: "fresh",
    }


def test_e2e_insert_overwrite_inside_txn(spark, txn_env):
    """INSERT OVERWRITE inside BEGIN..COMMIT (round 14): the fork's
    whole-set replacement publishes atomically — one commit whose diff
    removes every pre-transaction file and adds the new contents; a
    failure after the overwrite statement rolls the whole script back."""
    data_dir, ra, _rb = txn_env
    ta = VersionedTable(spark, ra)
    spark.createDataFrame(
        [(100, "ow")], "k int, v string"
    ).createOrReplaceTempView("ow_txn_src")
    # failing script: nothing visible despite the staged overwrite
    rc = _run([
        "--sql",
        "BEGIN; INSERT OVERWRITE ta SELECT k, v FROM ow_txn_src; "
        "UPDATE ta SET nope = 1; COMMIT;",
        "--data", str(data_dir), "--versionedTable", f"ta={ra}",
    ])
    assert rc == 2
    assert ta.latest_version() == 0
    assert ta.snapshot().count() == 4
    # committing script: one txn_publish, old state below it
    rc = _run([
        "--sql",
        "BEGIN; INSERT OVERWRITE ta SELECT k, v FROM ow_txn_src; "
        "INSERT INTO ta (k, v) VALUES (101, 'after'); COMMIT;",
        "--data", str(data_dir), "--versionedTable", f"ta={ra}",
    ])
    assert rc == 0
    assert ta.latest_version() == 1
    assert ta.commit_op(1) == "txn_publish"
    rows = {r["k"]: r["v"] for r in ta.snapshot().collect()}
    assert rows == {100: "ow", 101: "after"}
    assert ta.snapshot(0).count() == 4  # time travel below the publish


def test_e2e_oversized_membership_inside_txn(spark, txn_env, tmp_path):
    """The round-14 semi-join membership path composes with
    BEGIN..COMMIT: a >10k-subject DELETE stages against the fork and
    publishes atomically with the rest of the script."""
    data_dir, ra, _rb = txn_env
    ta = VersionedTable(spark, ra)
    # grow the table so the membership delete has real work
    ta.append(
        spark.range(1_000, 16_000).selectExpr(
            "CAST(id AS INT) AS k", "'bulk' AS v"
        )
    )
    v0 = ta.latest_version()
    spark.range(1_000, 13_000).selectExpr("id AS s").createOrReplaceTempView(
        "txn_subjects"
    )
    rc = _run([
        "--sql",
        "BEGIN; "
        "DELETE FROM ta WHERE k IN (SELECT s FROM txn_subjects); "
        "UPDATE ta SET v = 'kept' WHERE k >= 13000; "
        "COMMIT;",
        "--data", str(data_dir), "--versionedTable", f"ta={ra}",
    ])
    assert rc == 0
    assert ta.latest_version() == v0 + 1  # ONE publish commit
    assert ta.commit_op(v0 + 1) == "txn_publish"
    assert ta.snapshot().where("k >= 1000 AND k < 13000").count() == 0
    assert ta.snapshot().where("v = 'kept'").count() == 3_000


def test_e2e_dryrun_counts_without_forking(spark, txn_env):
    data_dir, ra, _rb = txn_env
    rc = _run([
        "--sql",
        "BEGIN; UPDATE ta SET v = 'x' WHERE k <= 2; COMMIT;",
        "--data", str(data_dir), "--versionedTable", f"ta={ra}",
        "--sqlDryrun",
    ])
    assert rc == 0
    assert VersionedTable(spark, ra).latest_version() == 0
    assert not (ra / "_txn").exists()  # dryrun never forks a workspace


def test_write_write_conflict_refused_nothing_published(spark, txn_env):
    """SERIALIZABLE at table granularity: a concurrent writer moving the
    head during the transaction makes COMMIT refuse — the winner's state
    survives, the transaction's workspaces are discarded."""
    _data_dir, ra, _rb = txn_env
    ta = VersionedTable(spark, ra)
    views = {"ta": {"root": str(ra), "pinned": False}}
    txn = ScriptTransaction(spark, views)
    txn.execute("UPDATE ta SET v = 'txn' WHERE k = 1")
    # concurrent writer commits directly to the original
    ta.update_where({"v": "'winner'"}, "k = 4")
    with pytest.raises(SqlTxnError, match="write-write conflict"):
        txn.commit()
    assert ta.latest_version() == 1  # only the winner's commit
    rows = {r["k"]: r["v"] for r in ta.snapshot().collect()}
    assert rows[1] == "one" and rows[4] == "winner"
    assert not list((ra / "_txn").glob("ws-*"))


def test_crash_after_manifest_rolls_forward_via_recover(
    spark, txn_env, monkeypatch
):
    """The decision point is the manifest rename: a crash after it (but
    before finalization) leaves every table UNCHANGED to readers, and
    recover() completes the publish — re-entrantly."""
    import database_anonymiser_spark.sources.txn as txn_mod

    _data_dir, ra, rb = txn_env
    ta, tb = VersionedTable(spark, ra), VersionedTable(spark, rb)
    views = {
        "ta": {"root": str(ra), "pinned": False},
        "tb": {"root": str(rb), "pinned": False},
    }
    txn = ScriptTransaction(spark, views)
    txn.execute("UPDATE ta SET v = 'published' WHERE k = 2")
    txn.execute("DELETE FROM tb WHERE k = 3")

    real_finalize = txn_mod._finalize
    monkeypatch.setattr(
        txn_mod, "_finalize",
        lambda p: (_ for _ in ()).throw(RuntimeError("simulated crash")),
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        txn.commit()
    monkeypatch.setattr(txn_mod, "_finalize", real_finalize)

    # decided but unfinalized: NOTHING visible yet
    assert ta.latest_version() == 0 and tb.latest_version() == 0
    manifests = list((ra / "_txn").glob("*.json"))
    assert len(manifests) == 1
    # recovery rolls BOTH tables forward
    results = txn_mod.recover(str(ra))
    assert len(results) == 1
    assert ta.latest_version() == 1 and tb.latest_version() == 1
    assert ta.commit_op(1) == "txn_publish"
    rows = {r["k"]: r["v"] for r in ta.snapshot().collect()}
    assert rows[2] == "published"
    assert {r["k"] for r in tb.snapshot().collect()} == {1, 2}
    assert not list((ra / "_txn").glob("*.json"))  # manifest consumed
    # idempotent: a second recover is a no-op
    assert txn_mod.recover(str(ra)) == []
    assert ta.latest_version() == 1 and tb.latest_version() == 1


def test_abandoned_workspace_sweep(spark, txn_env):
    """A crash BEFORE the manifest leaves only a disposable workspace
    directory (originals never changed); sweep_workspaces removes it."""
    _data_dir, ra, _rb = txn_env
    views = {"ta": {"root": str(ra), "pinned": False}}
    txn = ScriptTransaction(spark, views)
    txn.execute("UPDATE ta SET v = 'lost' WHERE k = 1")
    # simulated crash: the object is simply dropped, no rollback call.
    # round 14: the sweep is AGE-GUARDED — a fresh workspace (a live
    # transaction in another process) is never a sweep candidate...
    assert abandoned_workspaces(str(ra)) == []
    assert sweep_workspaces(str(ra)) == 0
    # ... and only falls due once stale (grace 0 = test shortcut)
    ws = abandoned_workspaces(str(ra), grace_s=0)
    assert len(ws) == 1 and ws[0].name.startswith("ws-")
    assert sweep_workspaces(str(ra), grace_s=0) == 1
    assert abandoned_workspaces(str(ra), grace_s=0) == []
    assert VersionedTable(spark, ra).latest_version() == 0


def test_txn_zero_change_statements_publish_nothing(spark, txn_env):
    """An UPDATE matching zero rows forks the table but publishes no
    commit — the table's version must NOT move."""
    _data_dir, ra, _rb = txn_env
    ta = VersionedTable(spark, ra)
    views = {"ta": {"root": str(ra), "pinned": False}}
    txn = ScriptTransaction(spark, views)
    txn.execute("UPDATE ta SET v = 'none' WHERE k = 999")
    res = txn.commit()
    assert ta.latest_version() == 0
    # either no part at all or an empty diff — both mean zero publishes
    assert all(
        t["adds"] == 0 and t["removes"] == 0
        for t in res["tables"].values()
    ) or res["tables"] == {}


def test_txn_preserves_identity_highwater(spark, tmp_path):
    """INSERT inside a transaction advances the identity allocator on
    the fork; the publish must carry the property delta so a post-commit
    insert never re-allocates the same ids."""
    root = tmp_path / "ident"
    t = VersionedTable.create(
        spark,
        str(root),
        spark.createDataFrame([("a",)], "v string"),
        key_col=None,
        identity_col="id",
    )
    views = {"ti": {"root": str(root), "pinned": False}}
    txn = ScriptTransaction(spark, views)
    txn.execute("INSERT INTO ti (v) VALUES ('b'), ('c')")
    txn.commit()
    ids_after_txn = {r["id"] for r in t.snapshot().collect()}
    assert len(ids_after_txn) == 3
    t.append(spark.createDataFrame([("d",)], "v string"))
    ids_final = [r["id"] for r in t.snapshot().collect()]
    assert len(ids_final) == len(set(ids_final)) == 4
