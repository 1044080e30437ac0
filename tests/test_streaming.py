"""Streaming ingest tests: parquet-backed micro-batches driven to
completion synchronously (availableNow + processAllAvailable)."""

import pandas as pd
import pytest

from careers_spark import schema as S
from careers_spark.streaming import ingest


@pytest.fixture(scope="module")
def stream_input(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_in")
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c1", "c2"],
            "turn_idx": pd.array([0, 1, 1, 0], dtype="int32"),  # dup (c1,1)
            "role": ["user", "assistant", "assistant", "user"],
            "text": [
                "tell me about covent garden",
                "covent garden is in london",
                "covent garden is in london",  # late duplicate
                "unrelated filler text",
            ],
            "tool": [""] * 4,
            # NOTE: streaming's initial watermark is epoch 0 — rows at
            # ts<=0 are born late and get dropped by watermarked dedup,
            # so fixtures must use realistic timestamps
            "ts": pd.to_datetime(
                [1700000000, 1700000060, 1700000060, 1700000120], unit="s"
            ),
        }
    )
    spark.createDataFrame(pdf, schema=S.TRANSCRIPTS).write.parquet(str(d / "data"))
    return str(d / "data")


def test_streaming_dedup(spark, stream_input, tmp_path):
    stream = ingest.dedup_late_turns(
        ingest.read_transcript_stream(spark, stream_input)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup_out").collect()
    assert len(rows) == 3  # the duplicate (c1, 1) collapsed


def test_turn_rate_window(spark, stream_input, tmp_path):
    stream = ingest.read_transcript_stream(spark, stream_input)
    agg = ingest.turn_rate_by_window(stream, window="1 minute")
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; with a 1h watermark
    # and a finite file source nothing may close — just assert the query
    # ran without error and the schema is right
    cols = spark.sql("select * from rate_out").columns
    assert cols == ["window", "role", "n_turns"]
