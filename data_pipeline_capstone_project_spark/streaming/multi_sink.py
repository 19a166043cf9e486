"""Exactly-once fan-out: one stream feeding TWO sinks through a
single ``foreachBatch``.

The reference's Lambda writes each event to two places - the image
side-store and the ES document (``s3-to-es_aws.py:88-128,199-204``) -
with no transactional tie between them; a crash between the writes
leaves them inconsistent forever. Structured Streaming's contract is
the fix: ``foreachBatch`` may RE-EXECUTE a batch after failure, so a
sink is exactly-once iff the (epoch_id, data) write is idempotent.
Here both sinks write ``mode("overwrite")`` into an ``epoch=<id>``
partition directory: re-running an epoch replaces its own output
byte-for-byte instead of appending duplicates - the parquet-directory
analog of the Delta/Iceberg txn-log `(queryId, epochId)` dedup.

The micro-batch is ``localCheckpoint``-pinned before the first write
so both sinks serve the SAME evaluation of the batch (a lazy plan
re-evaluated per sink could diverge under non-determinism).

The registry query deliberately replays epoch 0 after the stream
finishes and then hash-checks the sinks against a relational oracle -
duplicates from the replay would fail the count/sum compare.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.aggregates import exact_sum

_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def fanout_batch(batch: DataFrame, epoch_id: int, detail_dir: str, agg_dir: str) -> None:
    """Idempotent two-sink write of one micro-batch. The two sinks
    read the same pinned batch and write to distinct directories, so
    they overlap in a driver thread pool (guide §2.6) instead of
    paying two sequential job launches per epoch."""
    from concurrent.futures import ThreadPoolExecutor

    pinned = batch.localCheckpoint(eager=True)
    agg = pinned.groupBy("event_type").agg(
        F.count("*").alias("pn"),
        exact_sum("value", 6).alias("psum"),
    )
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [
            pool.submit(
                lambda df=df, d=d: df.write.mode("overwrite").parquet(
                    f"{d}/epoch={epoch_id}"
                )
            )
            for df, d in ((pinned, detail_dir), (agg, agg_dir))
        ]
        for f in futures:
            f.result()


def _run(spark: SparkSession, src: str, ckpt: str, detail: str, agg: str) -> None:
    from . import sized_state_partitions

    with sized_state_partitions(spark):
        q = (
            spark.readStream.schema(_SCHEMA)
            .parquet(src)
            .writeStream.foreachBatch(
                lambda b, e: fanout_batch(b, e, detail, agg)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def streaming_multi_sink_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two waves through the stream, then a deliberate epoch-0 replay
    (simulating a post-failure re-execution); the joined read-back of
    both sinks must equal the relational truth - any duplicate row in
    either sink breaks the compare."""
    from ..sources.readers import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    wave1 = events
    wave2 = events.filter(F.col("event_id") % 4 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "user_id",
        "event_type",
        (F.col("value") * 2).alias("value"),
    )
    work = tempfile.mkdtemp(prefix="multi_sink_")
    src, ckpt, detail, agg = (
        os.path.join(work, d) for d in ("src", "ckpt", "detail", "agg")
    )
    os.makedirs(src)
    try:
        from concurrent.futures import ThreadPoolExecutor

        wave1.coalesce(1).write.mode("overwrite").parquet(f"{src}/wave1")
        # r15 (guide §2.6, same pattern as streaming_upsert): wave 2 is
        # staged while run 1 streams wave 1 - OUTSIDE the {src}/* glob
        # so run 1's listing can never see a half-written wave - then
        # published with one atomic rename before run 2. The
        # two-epoch incremental pickup the entry proves is unchanged.
        wave2_stage = os.path.join(work, "wave2_stage")
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(
                lambda: wave2.coalesce(1).write.mode("overwrite").parquet(wave2_stage)
            )
            _run(spark, f"{src}/*", ckpt, detail, agg)
            fut.result()
        os.replace(wave2_stage, f"{src}/wave2")
        _run(spark, f"{src}/*", ckpt, detail, agg)

        # Failure-replay simulation: re-execute epoch 0 with the same
        # batch content. Idempotent sinks absorb it.
        replay = spark.read.schema(_SCHEMA).parquet(f"{src}/wave1")
        fanout_batch(replay, 0, detail, agg)

        detail_back = spark.read.parquet(detail)
        agg_back = spark.read.parquet(agg)
        d = detail_back.groupBy("event_type").agg(
            F.count("*").alias("n_detail"),
            exact_sum("value", 6).cast("double").alias("sum_detail"),
        )
        a = agg_back.groupBy("event_type").agg(
            F.sum("pn").alias("n_agg"),
            F.sum("psum").cast("double").alias("sum_agg"),
        )
        out = d.join(a, "event_type").select(
            "event_type", "n_detail", "n_agg", "sum_detail", "sum_agg"
        )
        # Distributed materialization at the harness boundary: the
        # staged inputs are deleted in the finally block, so the result
        # must be computed eagerly - but in the executors' block
        # manager (localCheckpoint), never as a driver collect(). At
        # 100x the result stays partitioned across the cluster.
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


STREAMING_MULTI_SINK_ORACLE_SQL = """
WITH unioned AS (
  SELECT event_id, user_id, event_type, value FROM events
  UNION ALL
  SELECT event_id + 10000000, user_id, event_type, value * 2
  FROM events WHERE event_id % 4 = 0)
SELECT event_type,
       count(*) AS n_detail,
       count(*) AS n_agg,
       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_detail,
       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_agg
FROM unioned GROUP BY event_type
"""
