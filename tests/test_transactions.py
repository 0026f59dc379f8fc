"""Explicit transactions for row tables (reference:
use_transactions_isolation_levels.md; row-table tx semantics
consistency/using_transactions_row.md): buffer-until-commit,
read-your-writes in the owning session, no dirty reads elsewhere,
optimistic write-write conflict -> auto rollback, DDL and column-table
mutations rejected inside a transaction."""

import pytest
from pyspark.sql import functions as F

from snappydata_spark.session import TransactionConflict


@pytest.fixture()
def row_table(snappy):
    snappy.sql(
        "CREATE TABLE tx_t (k INT NOT NULL, v INT) USING row "
        "OPTIONS (key_columns 'k')"
    )
    snappy.sql("INSERT INTO tx_t VALUES (1, 10), (2, 20), (3, 30)")
    return snappy


def _state(sn, table="tx_t"):
    return {r.k: r.v for r in sn.table(table).collect()}


def test_commit_applies_buffered_ops(row_table, spark):
    from snappydata_spark import SnappySession

    sn = row_table
    other = SnappySession(spark, store_dir=sn.catalog.base_dir)

    sn.sql("BEGIN")
    sn.sql("PUT INTO tx_t VALUES (1, 99), (4, 40)")
    sn.sql("UPDATE tx_t SET v = v + 1 WHERE k = 2")
    sn.sql("DELETE FROM tx_t WHERE k = 3")

    # read-your-writes: API and SQL inside the transaction
    assert _state(sn) == {1: 99, 2: 21, 4: 40}
    got = {
        r.k: r.v
        for r in sn.sql("SELECT k, v FROM tx_t").collect()
    }
    assert got == {1: 99, 2: 21, 4: 40}
    n = sn.sql(
        "SELECT COUNT(*) AS n FROM tx_t t JOIN tx_t u ON t.k = u.k"
    ).collect()[0].n
    assert n == 3

    # no dirty reads from another session
    assert _state(other) == {1: 10, 2: 20, 3: 30}

    sn.sql("COMMIT")
    assert _state(sn) == {1: 99, 2: 21, 4: 40}
    assert _state(other) == {1: 99, 2: 21, 4: 40}


def test_cdc_sink_batch_stages_as_one_op(row_table, spark):
    """A CDC sink batch inside a transaction stages as ONE op whose
    overlay is the batch's delete-then-put end state; COMMIT applies it,
    ROLLBACK discards it."""
    from snappydata_spark import SnappySession
    from snappydata_spark.streaming import (
        EVENT_DELETE,
        EVENT_INSERT,
        EVENT_UPDATE,
        SnappySink,
    )

    sn = row_table
    other = SnappySession(spark, store_dir=sn.catalog.base_dir)
    sink = SnappySink(sn, "tx_t", query_name="tx_cdc", order_col="seq")

    def batch(rows):
        return spark.createDataFrame(
            [r + (i,) for i, r in enumerate(rows)],
            "k int, v int, _eventType int, seq long",
        )

    sn.sql("BEGIN")
    sink(
        batch([(1, 11, EVENT_UPDATE), (3, None, EVENT_DELETE), (4, 40, EVENT_INSERT)]),
        0,
    )
    assert len(sn._tx["ops"]["tx_t"]) == 1
    assert _state(sn) == {1: 11, 2: 20, 4: 40}
    assert _state(other) == {1: 10, 2: 20, 3: 30}
    sn.sql("COMMIT")
    assert _state(sn) == {1: 11, 2: 20, 4: 40}
    assert _state(other) == {1: 11, 2: 20, 4: 40}

    sn.sql("BEGIN")
    sink(batch([(2, None, EVENT_DELETE), (5, 50, EVENT_INSERT)]), 1)
    assert _state(sn) == {1: 11, 4: 40, 5: 50}
    sn.sql("ROLLBACK")
    assert _state(sn) == {1: 11, 2: 20, 4: 40}
    assert _state(other) == {1: 11, 2: 20, 4: 40}


def test_rollback_discards(row_table):
    sn = row_table
    sn.begin_transaction()
    sn.sql("DELETE FROM tx_t WHERE k >= 1")
    assert _state(sn) == {}
    sn.rollback()
    assert _state(sn) == {1: 10, 2: 20, 3: 30}
    # fresh transaction still works after rollback
    sn.sql("BEGIN")
    sn.sql("PUT INTO tx_t VALUES (9, 90)")
    sn.sql("COMMIT")
    assert _state(sn)[9] == 90


def test_disjoint_key_writers_both_commit(row_table, spark):
    """ROW-level conflict detection (reference: row write locks,
    use_transactions_isolation_levels.md): a rival committing to a
    DIFFERENT key of the same table does not abort this transaction."""
    from snappydata_spark import SnappySession

    sn = row_table
    other = SnappySession(spark, store_dir=sn.catalog.base_dir)

    sn.begin_transaction("repeatable_read")
    sn.sql("UPDATE tx_t SET v = 111 WHERE k = 1")
    # a rival writer commits first — to a DISJOINT key
    other.sql("UPDATE tx_t SET v = 222 WHERE k = 2")
    sn.commit()  # must NOT conflict
    assert _state(sn) == {1: 111, 2: 222, 3: 30}


def test_same_key_write_write_conflict_detected(row_table, spark):
    from snappydata_spark import SnappySession

    sn = row_table
    other = SnappySession(spark, store_dir=sn.catalog.base_dir)

    sn.begin_transaction("repeatable_read")
    sn.sql("UPDATE tx_t SET v = 111 WHERE k = 1")
    # a rival writer commits first — to the SAME row
    other.sql("UPDATE tx_t SET v = 222 WHERE k = 1")
    with pytest.raises(TransactionConflict):
        sn.commit()
    # auto-rolled-back: rival's write stands, ours is gone
    assert _state(sn) == {1: 222, 2: 20, 3: 30}
    assert sn._tx is None


def test_insert_same_new_key_conflicts_disjoint_commits(row_table, spark):
    """Insert-insert on the same NEW key conflicts (the row appeared
    under our staged key); inserts of distinct new keys coexist."""
    from snappydata_spark import SnappySession

    sn = row_table
    other = SnappySession(spark, store_dir=sn.catalog.base_dir)

    sn.begin_transaction()
    sn.sql("PUT INTO tx_t VALUES (7, 70)")
    other.sql("PUT INTO tx_t VALUES (8, 80)")  # disjoint new key
    sn.commit()
    assert _state(sn) == {1: 10, 2: 20, 3: 30, 7: 70, 8: 80}

    sn.begin_transaction()
    sn.sql("PUT INTO tx_t VALUES (9, 90)")
    other.sql("PUT INTO tx_t VALUES (9, 91)")  # same new key
    with pytest.raises(TransactionConflict):
        sn.commit()
    assert _state(sn)[9] == 91


def test_column_table_and_ddl_rejected(row_table, sf_dir):
    sn = row_table
    base = sn.spark.read.parquet(f"{sf_dir}/nation.parquet")
    sn.create_table("tx_col", options={"key_columns": "n_nationkey"}, df=base)
    sn.begin_transaction()
    with pytest.raises(ValueError, match="column table"):
        sn.sql("DELETE FROM tx_col WHERE n_nationkey = 1")
    with pytest.raises(ValueError, match="not allowed inside"):
        sn.truncate_table("tx_t")
    with pytest.raises(ValueError, match="already in progress"):
        sn.begin_transaction()
    sn.rollback()
    sn.drop_table("tx_col")


def test_set_isolation_statement(row_table):
    sn = row_table
    sn.sql("SET ISOLATION READ COMMITTED")
    assert sn._isolation == "read_committed"
    sn.sql("SET ISOLATION RESET")
    assert sn._isolation == "none"
    with pytest.raises(ValueError, match="no transaction"):
        sn.commit()


def test_dml_source_sees_own_writes(row_table):
    sn = row_table
    sn.sql("BEGIN")
    sn.sql("PUT INTO tx_t VALUES (5, 50)")
    # the source subquery must see the staged row 5
    sn.sql("PUT INTO tx_t SELECT k + 100, v FROM tx_t WHERE k = 5")
    assert _state(sn)[105] == 50
    sn.sql("COMMIT")
    assert _state(sn)[105] == 50


def test_randomized_transaction_sequences(row_table):
    """Model-based: random sequences of BEGIN / staged ops / COMMIT /
    ROLLBACK must land exactly where a dict model (with its own staged
    overlay) says — commits apply everything, rollbacks nothing."""
    import random

    sn = row_table
    committed = {1: 10, 2: 20, 3: 30}
    rng = random.Random(31)

    for _round in range(6):
        sn.sql("BEGIN")
        staged = dict(committed)
        for _ in range(rng.randrange(1, 4)):
            op = rng.choice(["put", "update", "delete"])
            if op == "put":
                k, v = rng.randrange(0, 6), rng.randrange(100)
                sn.sql(f"PUT INTO tx_t VALUES ({k}, {v})")
                staged[k] = v
            elif op == "update":
                thr, add = rng.randrange(0, 80), rng.randrange(1, 9)
                sn.sql(f"UPDATE tx_t SET v = v + {add} WHERE v < {thr}")
                staged = {
                    k: (v + add if v < thr else v) for k, v in staged.items()
                }
            else:
                thr = rng.randrange(0, 120)
                sn.sql(f"DELETE FROM tx_t WHERE v > {thr}")
                staged = {k: v for k, v in staged.items() if not v > thr}
            # read-your-writes after every op
            assert _state(sn) == staged
        if rng.random() < 0.5:
            sn.sql("COMMIT")
            committed = staged
        else:
            sn.sql("ROLLBACK")
        assert _state(sn) == committed


def test_ddl_and_merge_rejected_in_tx_sql(row_table):
    sn = row_table
    sn.sql("BEGIN")
    for stmt in (
        "CREATE TABLE tx_new (k INT) USING row",
        "DROP TABLE tx_t",
        "TRUNCATE TABLE tx_t",
        "INSERT OVERWRITE tx_t SELECT * FROM tx_t",
        "MERGE INTO tx_t t USING (SELECT 1 AS k, 1 AS v) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
    ):
        with pytest.raises(ValueError, match="not allowed inside"):
            sn.sql(stmt)
    sn.rollback()
    # and everything works again after the transaction ends
    sn.sql("TRUNCATE TABLE tx_t")
    assert sn.table("tx_t").count() == 0
