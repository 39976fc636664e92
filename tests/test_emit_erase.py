"""Round 15: ``--emitErase`` — reviewable GDPR erasure scripts.

The emitted ``ERASE FROM t WHERE key IN (...)`` script, run through the
SQL script face, must land the IDENTICAL end state as the native
``erase`` on a twin table, residue-free (no erased key value readable
from any parquet file left under the table root); ``--sqlDryrun``
previews the row count without committing (erase is deliberately not
rollbackable, so the preview is the only rehearsal).
"""

from __future__ import annotations

import pytest

from database_anonymiser_spark.cli import main as cli_main
from database_anonymiser_spark.sql_gen import emit_erase_script
from database_anonymiser_spark.sources.versioned import VersionedTable


def _mk(spark, root):
    return VersionedTable.create(
        spark, str(root),
        spark.range(0, 200).selectExpr(
            "CAST(id AS INT) AS k", "concat('u', id) AS v"
        ).coalesce(2),
        key_col="k",
    )


def test_emit_erase_script_rendering():
    s = emit_erase_script("cust", "k", ["3", "5", "5", "", " 7 "], chunk=2)
    stmts = [l for l in s.splitlines() if l.startswith("ERASE")]
    # dedup + blank-drop + chunking
    assert stmts == [
        "ERASE FROM cust WHERE k IN (3, 5);",
        "ERASE FROM cust WHERE k IN (7);",
    ]
    # string subjects quote and escape
    s = emit_erase_script("cust", "name", ["o'brien", "ann"])
    assert "ERASE FROM cust WHERE name IN ('o''brien', 'ann');" in s
    with pytest.raises(ValueError, match="no subjects"):
        emit_erase_script("cust", "k", ["", "  "])
    with pytest.raises(ValueError, match="plain identifier"):
        emit_erase_script("cust; DROP", "k", ["1"])


def test_emit_erase_key_type_rendering():
    """Round-15 review fix: rendering follows the KEY's type, never the
    subjects' lexical shape — '007' as an integer 7 against a STRING
    key would coerce-match '7'/'07'/'007' and over-delete."""
    # auto: a non-canonical integer forces quoted-string rendering
    s = emit_erase_script("cust", "k", ["007", "12"])
    assert "ERASE FROM cust WHERE k IN ('007', '12');" in s
    # auto: canonical integers (incl. negative) stay numeric
    s = emit_erase_script("cust", "k", ["-3", "12"])
    assert "ERASE FROM cust WHERE k IN (-3, 12);" in s
    # explicit string quotes even canonical integers
    s = emit_erase_script("cust", "k", ["12"], key_type="string")
    assert "ERASE FROM cust WHERE k IN ('12');" in s
    # explicit int refuses non-canonical subjects instead of guessing
    with pytest.raises(ValueError, match="not canonical"):
        emit_erase_script("cust", "k", ["007"], key_type="int")
    with pytest.raises(ValueError, match="key_type"):
        emit_erase_script("cust", "k", ["1"], key_type="float")


def test_emitted_script_equals_native_erase(spark, tmp_path):
    t_sql = _mk(spark, tmp_path / "a")
    t_nat = _mk(spark, tmp_path / "b")
    subjects = tmp_path / "subjects.txt"
    subjects.write_text("13\n40\n13\n\n177\n")
    script = tmp_path / "erase.sql"
    rc = cli_main([
        "--emitErase", str(script),
        "--eraseTable", "cust", "--eraseKey", "k",
        "--subjects", str(subjects),
        "--data", str(tmp_path),  # required globally; unused by the mode
    ])
    assert rc == 0 and "ERASE FROM cust WHERE k IN (13, 40, 177);" in (
        script.read_text()
    )

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    spark.range(1).write.parquet(str(data_dir / "dummy.parquet"))

    # dryrun preview: counts, commits nothing
    v0 = t_sql.latest_version()
    rc = cli_main([
        "--sqlFile", str(script), "--sqlDryrun",
        "--data", str(data_dir), "--versionedTable", f"cust={t_sql.root}",
        "--report", str(tmp_path / "r.json"),
    ])
    assert rc == 0 and t_sql.latest_version() == v0

    # real run ≡ native erase end state
    rc = cli_main([
        "--sqlFile", str(script),
        "--data", str(data_dir), "--versionedTable", f"cust={t_sql.root}",
        "--report", str(tmp_path / "r.json"),
    ])
    assert rc == 0
    t_nat.erase("k IN (13, 40, 177)", prune={"k": (13, 177)})
    got = sorted(r["k"] for r in t_sql.snapshot().collect())
    want = sorted(r["k"] for r in t_nat.snapshot().collect())
    assert got == want and 13 not in got and len(got) == 197

    # residue-free: no parquet file under the root still holds the keys
    erased = {13, 40, 177}
    import pyarrow.parquet as pq

    for p in (tmp_path / "a").rglob("*.parquet"):
        if not p.is_file():
            continue
        ks = set(pq.read_table(str(p), columns=["k"])["k"].to_pylist())
        assert not (ks & erased), (p, ks & erased)


def test_emit_erase_mode_validation(tmp_path, capsys):
    with pytest.raises(SystemExit):
        cli_main([
            "--emitErase", str(tmp_path / "x.sql"),
            "--data", str(tmp_path),
        ])  # missing --eraseTable/--eraseKey/--subjects
