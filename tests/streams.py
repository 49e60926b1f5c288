"""Runs and waits for the streaming tests' ``availableNow`` queries."""

from __future__ import annotations


def drain(query, timeout_s: float = 120) -> int:
    """Wait for ``query``, started with an ``availableNow`` trigger, to
    stop on its own. Fails here, at the wait, if it is still running
    after ``timeout_s`` or read no input row; returns the rows read."""
    assert query.awaitTermination(timeout_s), f"query {query.id} still running after {timeout_s}s"
    rows = sum(p["numInputRows"] for p in query.recentProgress)
    assert rows > 0, f"query {query.id} read no input rows"
    return rows


def collect_stream(df, checkpoint: str, output_mode: str = "append", timeout_s: float = 120):
    """Drain the streaming DataFrame ``df`` once under ``checkpoint``
    and return every row its micro-batches emitted."""
    emitted = []
    q = (
        df.writeStream.foreachBatch(lambda batch, _bid: emitted.extend(batch.collect()))
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    drain(q, timeout_s)
    return emitted


def run_batch_stream(spark, step, src: str, checkpoint: str, *args, **kwargs) -> None:
    """One ``availableNow`` run of the batch ``step`` over the
    ``(doc_id, text)`` parquet dir ``src``."""
    from faexport_db_spark.streaming.microbatch import start_batch_stream

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    drain(start_batch_stream(stream, step, checkpoint, *args, trigger={"availableNow": True}, **kwargs))
