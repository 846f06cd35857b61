"""Edge cases of the Arrow row-kernel helpers (kernel.row_map /
kernel.row_explode): every case must come back with the declared
schema, including batches that carry no output rows at all."""

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from htmlparser_spark.kernel import extract_text, row_explode, row_map

LEN = [StructField("n", IntegerType(), True)]
ITEM = [StructField("item_idx", IntegerType(), False),
        StructField("item", StringType(), False)]


def _docs(spark, texts, partitions=1):
    rows = [(i, t) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(partitions, "doc_id")


def test_empty_partitions_and_empty_input(spark):
    # one row over four partitions: three partitions reach the kernel
    # with no batch at all
    one = _docs(spark, ["a b"], partitions=4)
    empty = spark.createDataFrame([], "doc_id long, text string")
    for df in (one, empty):
        m = row_map(df, "text", LEN, lambda s: (len(s),), (None,))
        assert m.schema == StructType(df.schema.fields + LEN)
        e = row_explode(df, ["doc_id"], ["text"], ITEM,
                        lambda s: enumerate(s.split()))
        assert e.schema == StructType([df.schema["doc_id"]] + ITEM)
        n = df.count()
        assert m.count() == n
        assert e.count() == 2 * n


def test_all_null_batch(spark):
    df = _docs(spark, [None] * 5)
    m = row_map(df, "text", LEN, lambda s: (len(s),), (None,))
    assert m.schema == StructType(df.schema.fields + LEN)
    assert [r.n for r in m.collect()] == [None] * 5
    e = row_explode(df, ["doc_id"], ["text"], ITEM,
                    lambda s: enumerate(s.split()))
    assert e.schema == StructType([df.schema["doc_id"]] + ITEM)
    assert e.collect() == []
    ext = extract_text(df, include_raw=True)
    assert {(r.extracted_text, r.raw_html, r.n_nodes, r.n_errors)
            for r in ext.collect()} == {(None, None, 0, 0)}


def test_every_row_explodes_to_nothing(spark):
    df = _docs(spark, ["x", "y z", ""])
    e = row_explode(df, ["doc_id"], ["text"], ITEM, lambda s: [])
    assert e.schema == StructType([df.schema["doc_id"]] + ITEM)
    assert e.collect() == []
    # downstream Spark work over the empty result still plans and runs
    assert e.groupBy("doc_id").count().collect() == []


def test_nullable_int_output(spark):
    df = _docs(spark, ["a", "bb", "ccc", None])
    m = row_map(df, "text", LEN,
                lambda s: (len(s) if len(s) % 2 else None,), (None,))
    got = {r.doc_id: r.n for r in m.collect()}
    assert got == {0: 1, 1: None, 2: 3, 3: None}
    fields = [StructField("i", IntegerType(), False),
              StructField("ref", IntegerType(), True)]
    e = row_explode(df, ["doc_id"], ["text"], fields,
                    lambda s: [(i, None if i % 2 else i)
                               for i in range(len(s))])
    assert e.schema == StructType([df.schema["doc_id"]] + fields)
    assert sorted((r.doc_id, r.i, r.ref) for r in e.collect()) == [
        (0, 0, 0), (1, 0, 0), (1, 1, None),
        (2, 0, 0), (2, 1, None), (2, 2, 2)]


def test_drop_text(spark):
    df = _docs(spark, ["<p>hi</p>", None])
    m = row_map(df, "text", LEN, lambda s: (len(s),), (None,),
                drop_text=True)
    assert m.schema == StructType([df.schema["doc_id"]] + LEN)
    assert sorted(m.collect()) == [(0, 9), (1, None)]
    ext = extract_text(df, include_raw=False, drop_text=True)
    assert ext.columns == ["doc_id", "extracted_text", "n_nodes",
                           "n_errors"]


def test_explode_later_inputs_keep_nulls(spark):
    # only the first input column gates a row: a NULL second input
    # reaches fn as None
    df = spark.createDataFrame(
        [(1, "a b", "x"), (2, "c", None), (3, None, "y")],
        "doc_id long, text string, base string")
    e = row_explode(df, ["doc_id"], ["text", "base"], ITEM,
                    lambda s, base: [(i, f"{w}@{base}")
                                     for i, w in enumerate(s.split())])
    assert sorted(e.collect()) == [(1, 0, "a@x"), (1, 1, "b@x"),
                                   (2, 0, "c@None")]


def test_passthrough_is_byte_equal(spark):
    base = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
    rows = [(f"c{i % 7}", i, f"<p>t{i}</p>" if i % 5 else None,
             base + dt.timedelta(seconds=i * 3601, microseconds=i),
             i % 4)
            for i in range(1500)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts timestamp, "
              "partition_id long").repartition(3)
    out = extract_text(df, include_raw=True, drop_text=True)
    for c in ("conv_id", "turn_idx", "ts", "partition_id"):
        assert out.schema[c] == df.schema[c]

    def digest(frame):
        return frame.agg(
            F.count("*"),
            F.bit_xor(F.xxhash64("conv_id", "turn_idx", "ts",
                                 "partition_id"))).collect()[0]

    assert digest(out) == digest(df)
    assert sorted(out.select("conv_id", "turn_idx", "ts",
                             "partition_id").collect()) == \
        sorted(df.select("conv_id", "turn_idx", "ts",
                         "partition_id").collect())


def test_key_columns_follow_given_order(spark):
    df = spark.createDataFrame([(1, "k", "a b")],
                               "doc_id long, host string, text string")
    e = row_explode(df, ["host", "doc_id"], ["text"],
                    [StructField("n", LongType())],
                    lambda s: [(len(s),)])
    assert e.columns == ["host", "doc_id", "n"]
    assert e.collect() == [("k", 1, 3)]
