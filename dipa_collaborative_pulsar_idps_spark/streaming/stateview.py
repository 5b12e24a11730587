"""Offline state-store inspection — Spark 4's State Data Source over the
engine's streaming checkpoints.

Production streaming debugging starts with "what is IN the state store
right now?": which keys are tracked, what their per-key state says, how
big each operator's store is. The reference answers this by printing its
process dicts from inside the controller; the Spark-native answer is the
``statestore`` / ``state-metadata`` read formats, which open a
checkpoint's state files OFFLINE — no touching the running query, no
side channel, plain DataFrames over the exact bytes the stream will
resume from.

Works on any of the engine's stateful checkpoints: windowed/session
aggregations, streaming dropDuplicates, stream-stream joins, and the
sharded `applyInPandasWithState` operators (whose per-shard
parallel-array state unpacks back to per-key rows via
:func:`unpack_sharded_state`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def state_metadata(spark: SparkSession, checkpoint: str) -> DataFrame:
    """The checkpoint's operator map: operator ids/names, state store
    names, partition counts, and the min/max batch ids readable — the
    directory of everything :func:`read_operator_state` can open."""
    return spark.read.format("state-metadata").load(checkpoint)


def read_operator_state(
    spark: SparkSession,
    checkpoint: str,
    operator_id: int = 0,
    store_name: str | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """State rows (key struct, value struct, partition_id) for one
    operator's store at *batch_id* (default: the latest committed batch).
    Reads the checkpoint offline — safe while the query is stopped or
    running elsewhere."""
    r = spark.read.format("statestore").option("operatorId", operator_id)
    if store_name is not None:
        r = r.option("storeName", store_name)
    if batch_id is not None:
        r = r.option("batchId", batch_id)
    return r.load(checkpoint)


def unpack_sharded_state(
    state: DataFrame, value_fields: tuple[str, ...]
) -> DataFrame:
    """Explode a sharded `applyInPandasWithState` store (one row per
    shard, per-key state held as aligned parallel arrays — see
    `streaming/state.py`) back to one row per TRACKED KEY.

    *value_fields* names the array columns inside the state tuple, first
    one being the key array (e.g. ``("flow_keys", "last_counters",
    "last_seen_us")`` for the counter-delta machine). Output: (shard,
    key, <field>...) with the arrays zipped positionally — exactly the
    rows the operator would see on its next ``state.get``."""
    key_f, *rest = value_fields
    # applyInPandasWithState wraps the user tuple one level down
    # (value.groupState.<field>); other stateful operators put fields
    # directly under value.<field>
    vcols = state.select("value.*").columns
    base = "value.groupState" if vcols == ["groupState"] else "value"
    zipped = F.arrays_zip(*[F.col(f"{base}.{f}").alias(f) for f in value_fields])
    out = state.select(
        F.col("key").getField(state.select("key.*").columns[0]).alias("shard"),
        F.explode(zipped).alias("z"),
    )
    cols = [F.col("z").getField(key_f).alias("key")] + [
        F.col("z").getField(f).alias(f) for f in rest
    ]
    return out.select("shard", *cols)
