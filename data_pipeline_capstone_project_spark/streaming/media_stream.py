"""Streaming media ingest: incremental ``binaryFile`` source ->
per-batch codec dispatch -> append log.

The reference's media path is event-driven (S3 put -> Lambda decode,
``s3-to-es_aws.py:92-122``); the Spark-native equivalent is a
``readStream`` over the store prefix, decoding each micro-batch's
payloads with the same :func:`..operators.multimodal.real_decode`
dispatcher the batch path uses. Production behavior under corrupt
uploads matters most: a payload the codecs reject is LOGGED with a
status row, never a stream crash (binary stores always contain
garbage at 100 TB).

Two deterministic epochs (``maxFilesPerTrigger=9`` = the wave-1 file
count, availableNow): wave 1 is PNG/JPEG/GIF/BMP/MP4 fixtures, wave 2
adds more files plus two corrupt payloads (truncated PNG, random
bytes). The append log therefore equals the closed-form VALUES
oracle, including the error rows - exact, not rows-only.

r14 optimization (guide §1/§2 fixed-cost audit): this used to run
``maxFilesPerTrigger=1`` - 17 files, 17 micro-batches, each paying
~0.35-0.5 s of trigger fixed cost (offset log + commit log fsyncs,
per-batch planning, a fresh Python worker handshake for the
mapInPandas stage) against milliseconds of decode work. Decode is
per-file and stateless, so ANY batching yields the identical append
log; batching by wave keeps the multi-batch incremental semantics
this entry exists to prove (2 batches) while cutting the stream wall
from ~5.8-10.6 s to ~0.8-1.6 s measured. At 100 TB the same knob is
how a real deployment sizes triggers: files-per-trigger scaled to
arrival rate, never one job per object.

Scale shape: the source lists new files per trigger (work ~ batch,
not store); decode is the same zero-exchange Arrow ``mapInPandas``
as the batch path; the memory sink stands in for the real upsert
sink, which :mod:`.upsert_stream` already covers.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_STREAM_SCHEMA = (
    "media_name string, fmt string, n_bytes long, width int, height int, "
    "status string"
)


def _stage_waves(src: str) -> list[tuple[str, str, int, int, int, str]]:
    """Write wave1/wave2 media files; return the expected log rows
    (name, fmt, n_bytes, width, height, status)."""
    import numpy as np

    from ..operators.gif import _lcg_indices, _lcg_palette, make_gif
    from ..operators.images import make_bmp, make_png
    from ..operators.jpeg import make_jpeg
    from ..operators.mp4 import make_mp4

    rows = []
    os.makedirs(os.path.join(src, "wave1"))
    os.makedirs(os.path.join(src, "wave2"))

    def put(wave: str, name: str, payload: bytes, fmt: str, w: int, h: int,
            status: str = "ok") -> None:
        with open(os.path.join(src, wave, name), "wb") as f:
            f.write(payload)
        rows.append((name, fmt, len(payload), w, h, status))

    for i in range(3):
        px = np.full((8 + i, 5 + i, 3), 30 + 11 * i, dtype=np.uint8)
        put("wave1", f"w1_{i}.png", make_png(px), "png", 5 + i, 8 + i)
        put("wave1", f"w1_{i}.jpg", make_jpeg(px), "jpg", 5 + i, 8 + i)
        put("wave1", f"w1_{i}.mp4", make_mp4(100 + i, 80 + i, 900 + i), "mp4",
            100 + i, 80 + i)
    for i in range(3):
        px = np.full((6 + i, 9 + i, 3), 77 + 5 * i, dtype=np.uint8)
        put("wave2", f"w2_{i}.gif",
            make_gif(9 + i, 6 + i, _lcg_palette(8, i),
                     [{"idx": _lcg_indices(6 + i, 9 + i, 8, i)}]),
            "gif", 9 + i, 6 + i)
        put("wave2", f"w2_{i}.bmp", make_bmp(px), "bmp", 9 + i, 6 + i)
    truncated = make_png(np.zeros((5, 5, 3), dtype=np.uint8))[:20]
    put("wave2", "w2_bad1.png", truncated, "png", -1, -1, "error")
    put("wave2", "w2_bad2.bin", b"\x01\x02garbage-not-a-media-file\x7f" * 3,
        "bin", -1, -1, "error")
    return rows


def streaming_media_ingest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import real_decode

    work = tempfile.mkdtemp(prefix="media_stream_")
    src = os.path.join(work, "src")
    ckpt = os.path.join(work, "ckpt")
    qname = f"media_ingest_{uuid.uuid4().hex[:8]}"
    try:
        _stage_waves(src)
        # One micro-batch per WAVE, not per file (r14 fixed-cost
        # audit). r15 (ADVICE r14): the trigger size is DERIVED from
        # the staged wave-1 listing instead of a fixture-count literal,
        # so a fixture change cannot silently misalign batches; the
        # check pins the invariant the alignment needs (no later wave
        # larger than wave 1 - decode is batching-invariant so output
        # would stay correct, but the two-epoch property the entry
        # proves would weaken).
        wave_sizes = {
            d.name: len(os.listdir(d.path))
            for d in os.scandir(src) if d.is_dir()
        }
        wave1_files = wave_sizes["wave1"]
        if wave1_files != max(wave_sizes.values()):
            raise RuntimeError(f"wave1 must be the largest staged wave: {wave_sizes}")
        stream = (
            spark.readStream.format("binaryFile")
            .schema(
                "path string, modificationTime timestamp, "
                "length long, content binary"
            )
            .option("maxFilesPerTrigger", wave1_files)
            .load(f"{src}/*")
        )
        payloads = stream.select(
            F.element_at(F.split("path", "/"), -1).alias("media_name"),
            F.element_at(
                F.split(F.element_at(F.split("path", "/"), -1), r"\."), -1
            ).alias("fmt"),
            F.col("content").alias("payload"),
        )

        def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cols = [c.split(" ")[0] for c in MEDIA_STREAM_SCHEMA.split(", ")]
            for pdf in batches:
                rows = []
                for name, fmt, p in zip(
                    pdf["media_name"], pdf["fmt"], pdf["payload"]
                ):
                    try:
                        w, h = real_decode(p)
                        rows.append((name, fmt, len(p), w, h, "ok"))
                    except (ValueError, NotImplementedError):
                        rows.append((name, fmt, len(p), -1, -1, "error"))
                yield pd.DataFrame(rows, columns=cols)

        decoded = payloads.mapInPandas(decode_batches, MEDIA_STREAM_SCHEMA)
        q = (
            decoded.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(qname).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _media_stream_oracle() -> str:
    work = tempfile.mkdtemp(prefix="media_stream_oracle_")
    try:
        rows = _stage_waves(os.path.join(work, "src"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    vals = ", ".join(
        f"('{n}', '{f}', {b}, {w}, {h}, '{s}')" for n, f, b, w, h, s in rows
    )
    cols = ", ".join(c.split(" ")[0] for c in MEDIA_STREAM_SCHEMA.split(", "))
    return f"SELECT {cols} FROM (VALUES {vals}) AS t({cols})"


MEDIA_STREAM_ORACLE_SQL = _media_stream_oracle()
