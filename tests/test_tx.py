"""Optimistic transactions (OTransactionOptimistic / TransactionOptimisticTest)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orientdb_spark import Engine
from orientdb_spark.errors import OConcurrentModificationException

from tests.conftest import SF_DIR


def _eng(spark):
    eng = Engine(spark)
    eng.register_dataframe("acct", spark.read.parquet(f"{SF_DIR}/region.parquet"))
    return eng


def test_tx_isolation_and_commit(spark):
    eng = _eng(spark)
    tx = eng.begin()
    tx.command("update acct set r_name = 'TX' where r_regionkey = 0")
    # read-your-writes inside the tx
    assert tx.query("select r_name from acct where r_regionkey = 0")[0]["r_name"] == "TX"
    # invisible outside until commit
    assert eng.query("select r_name from acct where r_regionkey = 0")[0]["r_name"] != "TX"
    tx.commit()
    assert eng.query("select r_name from acct where r_regionkey = 0")[0]["r_name"] == "TX"


def test_tx_conflict_first_committer_wins(spark):
    eng = _eng(spark)
    tx1 = eng.begin()
    tx2 = eng.begin()
    tx1.command("update acct set r_name = 'A' where r_regionkey = 1")
    tx2.command("update acct set r_name = 'B' where r_regionkey = 1")
    tx1.commit()
    with pytest.raises(OConcurrentModificationException):
        tx2.commit()
    # the loser's buffered change never landed
    assert eng.query("select r_name from acct where r_regionkey = 1")[0]["r_name"] == "A"


def test_tx_rollback_leaves_state(spark):
    eng = _eng(spark)
    before = eng.query("select r_name from acct where r_regionkey = 2")[0]["r_name"]
    tx = eng.begin()
    tx.command("update acct set r_name = 'GONE' where r_regionkey = 2")
    tx.rollback()
    assert eng.query("select r_name from acct where r_regionkey = 2")[0]["r_name"] == before
    with pytest.raises(OConcurrentModificationException):
        tx.commit()  # no longer active


def _eng_rid(spark):
    """acct with a STABLE record identity (rid_pos) — enables the
    per-record commit path (reference: OTransactionOptimistic.java:22-45
    re-checks each touched record's version, not whole-class state)."""
    eng = Engine(spark)
    eng.register_dataframe(
        "acct",
        spark.read.parquet(f"{SF_DIR}/region.parquet"),
        rid_pos=lambda df: F.col("r_regionkey"),
    )
    return eng


def test_tx_disjoint_records_both_commit(spark):
    eng = _eng_rid(spark)
    tx1 = eng.begin()
    tx2 = eng.begin()
    tx1.command("update acct set r_name = 'A' where r_regionkey = 1")
    tx2.command("update acct set r_name = 'B' where r_regionkey = 3")
    tx1.commit()
    tx2.commit()  # disjoint write-sets: rebases instead of failing
    rows = {
        r["r_regionkey"]: r["r_name"]
        for r in eng.query("select r_regionkey, r_name from acct")
    }
    assert rows[1] == "A" and rows[3] == "B"
    assert len(rows) == 5  # no rows lost or duplicated by the rebase


def test_tx_same_record_still_conflicts(spark):
    eng = _eng_rid(spark)
    tx1 = eng.begin()
    tx2 = eng.begin()
    tx1.command("update acct set r_name = 'A' where r_regionkey = 1")
    tx2.command("update acct set r_name = 'B' where r_regionkey = 1")
    tx1.commit()
    with pytest.raises(OConcurrentModificationException):
        tx2.commit()
    assert eng.query("select r_name from acct where r_regionkey = 1")[0]["r_name"] == "A"


def test_tx_update_of_concurrently_deleted_record_conflicts(spark):
    eng = _eng_rid(spark)
    tx1 = eng.begin()
    tx2 = eng.begin()
    tx1.command("delete from acct where r_regionkey = 2")
    tx2.command("update acct set r_name = 'B' where r_regionkey = 2")
    tx1.commit()
    with pytest.raises(OConcurrentModificationException):
        tx2.commit()
    assert not eng.query("select * from acct where r_regionkey = 2")


def test_tx_disjoint_inserts_both_commit(spark):
    eng = _eng_rid(spark)
    tx1 = eng.begin()
    tx2 = eng.begin()
    tx1.command("insert into acct (r_regionkey, r_name) values (100, 'N1')")
    tx2.command("insert into acct (r_regionkey, r_name) values (200, 'N2')")
    tx1.commit()
    tx2.commit()  # different rids: rebase keeps both inserts
    rows = {
        r["r_regionkey"]: r["r_name"]
        for r in eng.query("select r_regionkey, r_name from acct")
    }
    assert rows[100] == "N1" and rows[200] == "N2" and len(rows) == 7


def test_tx_insert_rid_collision_conflicts(spark):
    eng = _eng_rid(spark)
    tx1 = eng.begin()
    tx2 = eng.begin()
    tx1.command("insert into acct (r_regionkey, r_name) values (100, 'N1')")
    tx2.command("insert into acct (r_regionkey, r_name) values (100, 'N2')")
    tx1.commit()
    with pytest.raises(OConcurrentModificationException):
        tx2.commit()  # same rid now taken in the live table
    rows = [r["r_name"] for r in eng.query("select r_name from acct where r_regionkey = 100")]
    assert rows == ["N1"]


def test_tx_disjoint_updates_commit_on_reopened_class(spark, tmp_path):
    """After save/open and an INSERT, per-record conflict checking still
    works: two transactions updating different records both commit."""
    eng = _eng_rid(spark)
    eng.save_database(str(tmp_path / "db"))
    eng2 = Engine(spark)
    eng2.open_database(str(tmp_path / "db"))
    eng2.command("insert into acct (r_regionkey, r_name) values (100, 'N1')")
    tx1 = eng2.begin()
    tx2 = eng2.begin()
    tx1.command("update acct set r_name = 'A' where r_regionkey = 1")
    tx2.command("update acct set r_name = 'B' where r_regionkey = 100")
    tx1.commit()
    tx2.commit()
    rows = {
        r["r_regionkey"]: r["r_name"]
        for r in eng2.query("select r_regionkey, r_name from acct")
    }
    assert rows[1] == "A" and rows[100] == "B" and len(rows) == 6


def test_tx_class_created_after_begin_conflicts(spark):
    """A class created after begin has no snapshot to diff a write-set
    against; touching it through the tx must surface as a clean
    class-granular conflict, not a TypeError on the missing supplier."""
    eng = _eng_rid(spark)
    tx = eng.begin()
    eng.command("create class latecomer")
    eng.command("insert into latecomer (v) values (1)")
    eng.command("insert into latecomer (v) values (2)")  # moves the supplier
    tx.command("update latecomer set v = 9 where v = 1")
    with pytest.raises(OConcurrentModificationException):
        tx.commit()
    assert sorted(r["v"] for r in eng.query("select v from latecomer")) == [1, 2]


def test_tx_unexpected_commit_error_deactivates(spark, monkeypatch):
    """Any failure inside commit validation (not just a conflict) must
    deactivate the tx so callers can't retry on half-validated state."""
    from orientdb_spark.tx import Transaction

    eng = _eng_rid(spark)
    tx1 = eng.begin()
    tx2 = eng.begin()
    tx1.command("update acct set r_name = 'A' where r_regionkey = 1")
    tx2.command("update acct set r_name = 'B' where r_regionkey = 3")
    tx1.commit()

    def boom(self, *a, **k):
        raise RuntimeError("synthetic rebase failure")

    monkeypatch.setattr(Transaction, "_rebase", boom)
    with pytest.raises(RuntimeError):
        tx2.commit()
    with pytest.raises(OConcurrentModificationException):
        tx2.commit()  # no longer active — retry is refused, not re-validated


def test_tx_zero_row_update_schema_survives_rebase(spark):
    """A tx UPDATE whose WHERE matched zero rows still adds its column
    (all-null) via withColumn; the rebase's unionByName(allowMissing
    Columns=True) carries that schema through even though the write-set
    diff is empty. Regression-pins the schema-preservation contract."""
    eng = _eng_rid(spark)
    tx1 = eng.begin()
    tx2 = eng.begin()
    tx1.command("update acct set r_name = 'A' where r_regionkey = 1")
    tx2.command("update acct set newcol = 'X' where r_regionkey = 999")
    tx1.commit()
    tx2.commit()  # empty write-set rebases cleanly onto tx1's table
    rows = eng.query("select r_regionkey, r_name, newcol from acct")
    assert len(rows) == 5
    assert all(r["newcol"] is None for r in rows)
    byk = {r["r_regionkey"]: r["r_name"] for r in rows}
    assert byk[1] == "A"  # tx1's concurrent update was kept
