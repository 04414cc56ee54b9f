"""Compressed chunk codec: Gorilla/delta-of-delta chunks as BinaryType rows.

Rolled-up points encode per (series_id, chunk_start) as two binary blobs
(timestamps + values) plus the row count — the classic TSDB chunk shape
(registry query ``q_chunk_encode`` and ``bench.py``'s encode leaf).

Encode is one ``_grouped.grouped_batch_in_pandas`` pass keyed by the
chunk, decode one ``mapInPandas`` pass; numpy inside, no per-row Python.

Timestamp domain: the pandas-UDF boundary converts through nanosecond
precision, so chunk timestamps must lie in pandas' ns range
(1677-09-21 .. 2262-04-11); the raw codec itself round-trips all int64.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codec import (
    decode_timestamps,
    decode_values,
    encode_timestamps,
    encode_values,
)
from ..operators._grouped import default_grouped_partitions, grouped_batch_in_pandas

CHUNK_SCHEMA = (
    "series_id string, chunk_start long, n long, ts_blob binary, val_blob binary"
)


def encode_chunks(
    points: DataFrame,
    chunk_seconds: int = 3600,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """points -> one row per (series, chunk) with encoded blobs.

    Timestamps are stored as epoch MICROseconds (lossless for parquet/Spark
    timestamps); values as Gorilla-encoded float64 (bit-lossless).
    """
    pts = points.select(
        F.col(series_col).cast("string").alias("series_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    ).withColumn(
        "chunk_start",
        (F.floor(F.unix_timestamp("ts") / chunk_seconds) * chunk_seconds).cast("long"),
    )

    def encode_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        rows: dict[str, list] = {
            "series_id": [], "chunk_start": [], "n": [], "ts_blob": [], "val_blob": []
        }
        for (sid, cs), g in pdf.groupby(["series_id", "chunk_start"], sort=False):
            ts_us = g["ts"].astype("datetime64[us]").astype("int64").to_numpy()
            vals = g["value"].to_numpy(dtype=np.float64)
            rows["series_id"].append(sid)
            rows["chunk_start"].append(int(cs))
            rows["n"].append(len(vals))
            rows["ts_blob"].append(encode_timestamps(ts_us))
            rows["val_blob"].append(encode_values(vals))
        return pd.DataFrame(rows)

    # Partition count from session conf (defaultParallelism floored at
    # spark.sql.shuffle.partitions — the deployment's scale knob).  A
    # blanket x4 factor here cost +45% wall at sf0.1 (128 near-empty
    # shuffle partitions for a one-core-second encode — A/B'd interleaved
    # at matched host probes).
    return grouped_batch_in_pandas(
        pts, ["series_id", "chunk_start"], ["ts"], encode_groups, CHUNK_SCHEMA,
        default_grouped_partitions(points.sparkSession),
    )


def decode_chunks(chunks: DataFrame) -> DataFrame:
    """chunks -> points(series_id, ts, value); inverse of encode_chunks."""

    def decode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            frames = []
            for r in pdf.itertuples(index=False):
                n = int(r.n)
                ts = decode_timestamps(bytes(r.ts_blob), n).astype("datetime64[us]")
                vals = decode_values(bytes(r.val_blob), n)
                frames.append(
                    pd.DataFrame(
                        {"series_id": r.series_id, "ts": ts, "value": vals}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return chunks.mapInPandas(decode, "series_id string, ts timestamp, value double")
