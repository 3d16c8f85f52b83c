"""Training-corpus export sink — balanced shards a trainer consumes.

The last mile of the pipeline tier: after dedup/quality/packing, the
corpus must land on disk as N roughly-equal shards whose ORDER is the
deterministic global shuffle (data-parallel trainers stream shards;
skewed shard sizes stall the slowest rank, and a non-deterministic
order breaks resumable training).

Scale shape: shard assignment reuses the bucket-offset global index
(``ops/corpus.corpus_shuffle_index`` design — no single-reducer window
over the corpus), and the write is ``repartitionByRange`` on the shard
id so each output file IS one shard, written in parallel.  Formats:
json (optionally gzip) for tokenizer-side consumption, parquet for
lake-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbdiff_spark.sqltext import ident


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    order_col: str,
    fmt: str = "json",
    compression: str | None = None,
) -> None:
    """Write ``df`` as ``n_shards`` balanced shards, contiguous in
    ``order_col`` (a precomputed deterministic permutation index such as
    ``corpus_shuffle_index``'s output — position 0..N-1).

    Shard of a row = ``order * n_shards div N`` — contiguous ranges, so
    every shard differs by at most one row in size and the stream order
    within a shard follows the global shuffle.  One
    ``repartitionByRange`` (range exchange) then a per-partition sorted
    write; no global sort, no driver collection."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    total = df.count()
    if total == 0:
        raise ValueError("refusing to export an empty corpus")
    # integer div end-to-end: double division would misplace rows near
    # shard boundaries once order*n_shards exceeds 2^53
    out = df.withColumn(
        "shard_id",
        F.expr(f"CAST((CAST({ident(order_col)} AS BIGINT) * {n_shards}) div {total} AS BIGINT)"),
    )
    writer = (
        out.repartitionByRange(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", F.col(ident(order_col)))
        .write.mode("errorifexists")
        .partitionBy("shard_id")
    )
    if compression:
        writer = writer.option("compression", compression)
    if fmt == "json":
        writer.json(path)
    elif fmt == "parquet":
        writer.parquet(path)
    else:
        writer.format(fmt).save(path)
