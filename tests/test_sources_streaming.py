from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recordmanager_spark.operators import multimodal as MM
from recordmanager_spark.streaming.pipeline import streaming_events

XML_BLOB = """<collection>
<record id="1"><title>First</title></record>
<record id="2"><title>Second</title></record>
</collection>"""


def test_extract_features_mapinpandas(spark):
    df = spark.createDataFrame(
        [Row(id=1, payload=bytearray(b"abc")), Row(id=2, payload=bytearray(b"defgh"))]
    )
    out = {r["id"]: r for r in MM.extract_features(df).collect()}
    assert out[1]["byte_len"] == 3 and out[2]["byte_len"] == 5
    assert len(out[1]["feature"]) == 8
    # deterministic fake: same payload -> same feature
    again = {r["id"]: r for r in MM.extract_features(df).collect()}
    assert out[1]["feature"] == again[1]["feature"]
    assert out[1]["sha256"] != out[2]["sha256"]


def test_streaming_windowed_agg(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    rows = [
        Row(ts=dt.datetime(2024, 1, 1, 0, 1), event_type="a", value=1.0),
        Row(ts=dt.datetime(2024, 1, 1, 0, 2), event_type="a", value=2.0),
        Row(ts=dt.datetime(2024, 1, 1, 1, 1), event_type="b", value=5.0),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, schema).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    agg = streaming_events(stream, "1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["event_type"], r["n"], r["total_value"])
            for r in spark.sql("SELECT * FROM stream_out").collect()
        }
    finally:
        q.stop()
    assert ("a", 2, 3.0) in got and ("b", 1, 5.0) in got
