"""CDC sink semantic matrix — mirrors SnappyStoreSinkProviderSuite.scala:
72-286 (insert/update/delete events, within-batch conflation, keyless
insert, keyed put, duplicate-batch idempotency)."""

import pytest
from pyspark.sql import functions as F

from snappydata_spark.streaming import (
    SnappySink,
    EVENT_DELETE,
    EVENT_INSERT,
    EVENT_UPDATE,
)
from snappydata_spark.streaming.sink import conflate_events


@pytest.fixture()
def sink_env(snappy):
    base = snappy.spark.createDataFrame(
        [(1, "one", 1.0), (2, "two", 2.0)], "k int, v string, x double"
    )
    snappy.create_table("cdc_t", options={"key_columns": "k"}, df=base)
    # order_col = transport-level sequence (the Kafka-offset analogue);
    # required because micro-batches arrive multi-partition
    sink = SnappySink(snappy, "cdc_t", query_name="q1", order_col="seq")
    return snappy, sink


def _batch(spark, rows):
    """Rows as (k, v, x, _eventType); a transport sequence column is
    synthesized from list position — the within-batch delivery order."""
    seq_rows = [r + (i,) for i, r in enumerate(rows)]
    return spark.createDataFrame(
        seq_rows, "k int, v string, x double, _eventType int, seq long"
    )


def test_cdc_insert_update_delete(sink_env):
    sn, sink = sink_env
    sink(
        _batch(
            sn.spark,
            [
                (3, "three", 3.0, EVENT_INSERT),   # new key → insert
                (1, "ONE", 1.5, EVENT_UPDATE),     # existing → update
                (2, None, 0.0, EVENT_DELETE),      # existing → delete
            ],
        ),
        batch_id=0,
    )
    got = {(r.k, r.v) for r in sn.table("cdc_t").collect()}
    assert got == {(1, "ONE"), (3, "three")}


def test_cdc_batch_is_one_generation(sink_env):
    """A batch is one keyed commit (the reference applies it in one store
    transaction): inserts, updates and deletes together add exactly one
    manifest generation, and a batch that only deletes absent keys adds
    none."""
    sn, sink = sink_env
    gens = len(sn.table_history("cdc_t"))
    sink(
        _batch(
            sn.spark,
            [
                (3, "three", 3.0, EVENT_INSERT),
                (1, "ONE", 1.5, EVENT_UPDATE),
                (2, None, 0.0, EVENT_DELETE),
            ],
        ),
        batch_id=0,
    )
    assert len(sn.table_history("cdc_t")) == gens + 1
    sink(
        _batch(
            sn.spark,
            [(40, None, 0.0, EVENT_DELETE), (41, None, 0.0, EVENT_DELETE)],
        ),
        batch_id=1,
    )
    assert len(sn.table_history("cdc_t")) == gens + 1
    got = {(r.k, r.v) for r in sn.table("cdc_t").collect()}
    assert got == {(1, "ONE"), (3, "three")}


def test_cdc_into_empty_table_keeps_table_columns(sink_env):
    """Into an emptied table the batch's upserts are inserted projected
    onto the table's columns: `_eventType` and the transport order
    column never become table columns."""
    sn, sink = sink_env
    sn.truncate_table("cdc_t")
    sink(
        _batch(
            sn.spark,
            [(1, None, 0.0, EVENT_DELETE), (4, "four", 4.0, EVENT_INSERT)],
        ),
        batch_id=0,
    )
    got = sn.table("cdc_t")
    assert got.columns == ["k", "v", "x"]
    assert [tuple(r) for r in got.collect()] == [(4, "four", 4.0)]


def test_cdc_delete_needs_delete_privilege(sink_env):
    """A batch needs DELETE on the table only when it holds a delete."""
    sn, sink = sink_env
    sn.sql("GRANT INSERT ON cdc_t TO alice")
    sn.current_user = "alice"
    try:
        sink(_batch(sn.spark, [(5, "five", 5.0, EVENT_INSERT)]), batch_id=0)
        with pytest.raises(PermissionError):
            sink(_batch(sn.spark, [(1, None, 0.0, EVENT_DELETE)]), batch_id=1)
    finally:
        sn.current_user = ""
    assert {r.k for r in sn.table("cdc_t").collect()} == {1, 2, 5}


def test_cdc_conflation_keeps_last_event(sink_env):
    sn, sink = sink_env
    # same key: insert then two updates within one batch → single upsert
    # with the LAST payload (reference :286-309)
    sink(
        _batch(
            sn.spark,
            [
                (5, "v1", 1.0, EVENT_INSERT),
                (5, "v2", 2.0, EVENT_UPDATE),
                (5, "v3", 3.0, EVENT_UPDATE),
            ],
        ),
        batch_id=0,
    )
    rows = sn.table("cdc_t").filter(F.col("k") == 5).collect()
    assert len(rows) == 1 and rows[0].v == "v3"


def test_cdc_insert_then_delete_conflates_to_delete(sink_env):
    sn, sink = sink_env
    sink(
        _batch(
            sn.spark,
            [(7, "temp", 1.0, EVENT_INSERT), (7, "temp", 1.0, EVENT_DELETE)],
        ),
        batch_id=0,
    )
    assert sn.table("cdc_t").filter(F.col("k") == 7).count() == 0


def test_duplicate_batch_skipped(sink_env):
    sn, sink = sink_env
    b = _batch(sn.spark, [(9, "nine", 9.0, EVENT_INSERT)])
    sink(b, batch_id=1)
    # re-deliver same batch id with different payload — must be ignored
    sink(_batch(sn.spark, [(9, "NINE-2", 0.0, EVENT_INSERT)]), batch_id=1)
    rows = sn.table("cdc_t").filter(F.col("k") == 9).collect()
    assert len(rows) == 1 and rows[0].v == "nine"


def test_no_event_type_keyed_put(sink_env):
    sn, sink = sink_env
    plain = sn.spark.createDataFrame([(1, "replaced", 10.0)], "k int, v string, x double")
    sink(plain, batch_id=0)
    rows = sn.table("cdc_t").filter(F.col("k") == 1).collect()
    assert len(rows) == 1 and rows[0].v == "replaced"


def test_no_event_type_keyless_insert(snappy):
    base = snappy.spark.createDataFrame([(1, "a")], "k int, v string")
    snappy.create_table("plain_t", df=base)  # no key_columns
    sink = SnappySink(snappy, "plain_t", query_name="q2")
    sink(snappy.spark.createDataFrame([(1, "a")], "k int, v string"), batch_id=0)
    assert snappy.table("plain_t").count() == 2  # append, not upsert


def test_conflate_events_order(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 5)], "k int, v string, seq int"
    )
    out = conflate_events(df, ["k"], order_col="seq").collect()
    assert {(r.k, r.v) for r in out} == {(1, "b"), (2, "c")}


def test_conflate_multi_partition_requires_order_col(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b")], "k int, v string"
    ).repartition(2)
    with pytest.raises(ValueError, match="order column"):
        conflate_events(df, ["k"])


def test_conflate_single_partition_surrogate_ok(spark):
    # single-partition batches may fall back to delivery-order surrogate
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k int, v string"
    ).coalesce(1)
    out = conflate_events(df, ["k"]).collect()
    assert {(r.k, r.v) for r in out} == {(1, "b"), (2, "c")}


def test_cdc_later_update_in_other_partition_wins(sink_env):
    """The SnappyStoreSinkProviderSuite-shaped ordering case: the LATER
    event (by transport sequence) for a key sits in a DIFFERENT Spark
    partition — a partition-id-ordered surrogate would pick the wrong
    event; the explicit order column must win."""
    sn, sink = sink_env
    rows = [
        (11, "stale", 1.0, EVENT_INSERT, 0),
        (11, "fresh", 2.0, EVENT_UPDATE, 1),
    ]
    batch = sn.spark.createDataFrame(
        rows, "k int, v string, x double, _eventType int, seq long"
    ).repartition(2)
    # force the later event into the FIRST partition half the time by
    # repartitioning on v (deterministic hash): either way order_col rules
    sink(batch, batch_id=0)
    got = sn.table("cdc_t").filter(F.col("k") == 11).collect()
    assert len(got) == 1 and got[0].v == "fresh"


def test_streaming_end_to_end_file_source(snappy, tmp_path):
    """Real Structured Streaming path: file source → foreachBatch(SnappySink)."""
    import json

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "b0.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"k": 100, "v": "s1", "x": 1.0, "_eventType": EVENT_INSERT},
                {"k": 100, "v": "s2", "x": 2.0, "_eventType": EVENT_UPDATE},
            ]
        )
    )
    base = snappy.spark.createDataFrame([(0, "seed", 0.0)], "k int, v string, x double")
    snappy.create_table("stream_t", options={"key_columns": "k"}, df=base)
    sink = SnappySink(snappy, "stream_t", query_name="q3")
    stream = (
        snappy.spark.readStream.schema("k int, v string, x double, _eventType int")
        .json(str(src_dir))
    )
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = {(r.k, r.v) for r in snappy.table("stream_t").collect()}
    assert got == {(0, "seed"), (100, "s2")}


def test_create_stream_table_ddl_to_sink(snappy, tmp_path):
    """CREATE STREAM TABLE DDL (createStream SnappyDDLParser:716-737) →
    stream registry → CDC sink, end to end: the stream is declared in SQL,
    queried by name, and its events land in a managed table."""
    import json

    src_dir = tmp_path / "ddl_in"
    src_dir.mkdir()
    (src_dir / "b0.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"k": 1, "v": "a", "_eventType": EVENT_INSERT, "seq": 1},
                {"k": 2, "v": "b", "_eventType": EVENT_INSERT, "seq": 2},
                {"k": 1, "v": "a2", "_eventType": EVENT_UPDATE, "seq": 3},
                {"k": 2, "v": None, "_eventType": EVENT_DELETE, "seq": 4},
            ]
        )
    )
    stream = snappy.sql(
        f"CREATE STREAM TABLE ev_stream (k INT, v STRING, _eventType INT, seq INT) "
        f"USING file_stream OPTIONS (format 'json', path '{src_dir}')"
    )
    assert stream.isStreaming
    # declared stream is queryable by name (spark.table resolves the view)
    assert snappy.spark.table("ev_stream").isStreaming

    base = snappy.spark.createDataFrame([(0, "seed")], "k int, v string")
    snappy.create_table("ddl_tgt", options={"key_columns": "k"}, df=base)
    sink = SnappySink(snappy, "ddl_tgt", query_name="q_ddl", order_col="seq")
    q = (
        snappy.spark.table("ev_stream")
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.k, r.v) for r in snappy.table("ddl_tgt").collect()}
    assert got == {(0, "seed"), (1, "a2")}

    snappy.sql("DROP STREAM TABLE ev_stream")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        snappy.sql("DROP STREAM TABLE ev_stream")
    snappy.sql("DROP STREAM TABLE IF EXISTS ev_stream")
    snappy.drop_table("ddl_tgt")


def test_create_stream_table_rate_source(snappy):
    """rate_stream provider through the DDL path (no schema needed —
    the rate source brings its own)."""
    df = snappy.sql(
        "CREATE STREAM TABLE rate_s USING rate_stream OPTIONS (rowsPerSecond '5')"
    )
    assert df.isStreaming and set(df.columns) == {"timestamp", "value"}
    snappy.sql("DROP STREAM TABLE rate_s")


def test_kafka_contract_multi_partition_offset_ordered(snappy, tmp_path):
    """Kafka-shaped ingest end to end (DirectKafkaStreamSource.scala:52;
    SnappyStoreSinkProviderSuite matrix): records carry
    (kafka_partition, kafka_offset), a key lives in exactly ONE Kafka
    partition (producer partitioner), offsets totally order events within
    a partition.  Two micro-batches arrive through the file source with
    rows physically SCRAMBLED relative to offset order and delivered
    multi-partition (repartitioned on kafka_partition, like Kafka's
    executor assignment) — order_col=kafka_offset must still reproduce
    per-key last-event-wins through conflation + delete/put apply."""
    import json
    import os as _os

    src_dir = tmp_path / "kafka_in"
    src_dir.mkdir()
    # batch 0: k=1 lives in partition 0, k=2 in partition 1, k=3 in p0.
    # Physical row order is scrambled (late events first).
    b0 = [
        {"kafka_partition": 0, "kafka_offset": 5, "_eventType": EVENT_UPDATE,
         "k": 1, "v": "v-late"},
        {"kafka_partition": 1, "kafka_offset": 7, "_eventType": EVENT_DELETE,
         "k": 2, "v": None},
        {"kafka_partition": 0, "kafka_offset": 0, "_eventType": EVENT_INSERT,
         "k": 1, "v": "v-early"},
        {"kafka_partition": 1, "kafka_offset": 2, "_eventType": EVENT_INSERT,
         "k": 2, "v": "x1"},
        {"kafka_partition": 0, "kafka_offset": 3, "_eventType": EVENT_UPDATE,
         "k": 1, "v": "v-mid"},
        {"kafka_partition": 0, "kafka_offset": 1, "_eventType": EVENT_INSERT,
         "k": 3, "v": "z1"},
    ]
    # batch 1: later offsets — k=1 final update, k=2 re-inserted
    b1 = [
        {"kafka_partition": 1, "kafka_offset": 9, "_eventType": EVENT_INSERT,
         "k": 2, "v": "x-back"},
        {"kafka_partition": 0, "kafka_offset": 9, "_eventType": EVENT_UPDATE,
         "k": 1, "v": "v-final"},
    ]
    p0 = src_dir / "b0.json"
    p1 = src_dir / "b1.json"
    p0.write_text("\n".join(json.dumps(d) for d in b0))
    p1.write_text("\n".join(json.dumps(d) for d in b1))
    _os.utime(p0, (1_000_000_000, 1_000_000_000))
    _os.utime(p1, (1_000_000_100, 1_000_000_100))

    base = snappy.spark.createDataFrame([(0, "seed")], "k int, v string")
    snappy.create_table("kafka_tgt", options={"key_columns": "k"}, df=base)
    sink = SnappySink(
        snappy, "kafka_tgt", query_name="q_kafka", order_col="kafka_offset"
    )

    batch_partitions = []

    def kafka_delivery(df, batch_id):
        # Kafka executor assignment: one task per topic partition —
        # the batch reaches the sink genuinely multi-partition
        df = df.repartition(2, F.col("kafka_partition"))
        batch_partitions.append(df.rdd.getNumPartitions())
        sink(df.drop("kafka_partition"), batch_id)

    stream = snappy.spark.readStream.schema(
        "kafka_partition int, kafka_offset long, _eventType int, k int, v string"
    ).option("maxFilesPerTrigger", 1).json(str(src_dir))
    q = (
        stream.writeStream.foreachBatch(kafka_delivery)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    assert batch_partitions and all(n == 2 for n in batch_partitions)
    got = {(r.k, r.v) for r in snappy.table("kafka_tgt").collect()}
    assert got == {(0, "seed"), (1, "v-final"), (2, "x-back"), (3, "z1")}
    snappy.drop_table("kafka_tgt")
