"""The canonical OSM element schema — the engine's data contract.

One wide schema shared by all three element kinds (node/way/relation),
with kind-irrelevant columns null. Parity target: the reference's fixed
Arrow schema ``osm_arrow_schema()`` (reference
``osm-pbf-parquet/src/osm_arrow.rs:37-108``) and its SQL DDL
(``README.md:53-69``). ``type`` is carried as a regular string column in
DataFrames and becomes the hive partition column on write
(``partitionBy("type")``), matching the reference layout
``{out}/type={kind}/...`` (``osm-pbf-parquet/src/sink.rs:166-179``).

Timestamps are naive (no timezone) millisecond-precision in the reference
(``osm_arrow.rs:98-102``); Spark's closest match is ``TimestampNTZType``
(microsecond physical precision — lossless widening of ms).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

TYPE_NODE = "node"
TYPE_WAY = "way"
TYPE_RELATION = "relation"
OSM_TYPES = (TYPE_NODE, TYPE_WAY, TYPE_RELATION)

# --- Spark schema (the DataFrame contract) ---------------------------------

NDS_TYPE = T.ArrayType(
    T.StructType([T.StructField("ref", T.LongType(), True)]), True
)

MEMBERS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("type", T.StringType(), True),
            T.StructField("ref", T.LongType(), True),
            T.StructField("role", T.StringType(), True),
        ]
    ),
    True,
)

OSM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType(), True), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("nds", NDS_TYPE, True),
        T.StructField("members", MEMBERS_TYPE, True),
        T.StructField("changeset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampNTZType(), True),
        T.StructField("uid", T.IntegerType(), True),
        T.StructField("user", T.StringType(), True),
        T.StructField("version", T.IntegerType(), True),
        T.StructField("visible", T.BooleanType(), True),
    ]
)

OSM_COLUMNS = [f.name for f in OSM_SCHEMA.fields]

# --- Arrow schema (the parse-kernel / mapInArrow contract) ------------------

PA_NDS_TYPE = pa.list_(pa.struct([pa.field("ref", pa.int64())]))
PA_MEMBERS_TYPE = pa.list_(
    pa.struct(
        [
            pa.field("type", pa.string()),
            pa.field("ref", pa.int64()),
            pa.field("role", pa.string()),
        ]
    )
)
# Spark's Arrow interchange for MapType:
PA_TAGS_TYPE = pa.map_(pa.string(), pa.string())


def osm_arrow_schema() -> pa.Schema:
    """Arrow schema for kernel-produced batches.

    Spark's Arrow bridge expects microsecond timestamps for
    ``TimestampNTZType``; the reference writes milliseconds — ``us`` is a
    lossless widening.
    """
    return pa.schema(
        [
            pa.field("id", pa.int64(), nullable=False),
            pa.field("type", pa.string(), nullable=False),
            pa.field("tags", PA_TAGS_TYPE),
            pa.field("lat", pa.float64()),
            pa.field("lon", pa.float64()),
            pa.field("nds", PA_NDS_TYPE),
            pa.field("members", PA_MEMBERS_TYPE),
            pa.field("changeset", pa.int64()),
            pa.field("timestamp", pa.timestamp("us")),
            pa.field("uid", pa.int32()),
            pa.field("user", pa.string()),
            pa.field("version", pa.int32()),
            pa.field("visible", pa.bool_()),
        ]
    )


def pruned_schema(columns: list[str] | None) -> T.StructType:
    """Project the Spark schema to ``columns`` (order preserved from the
    canonical schema). ``None`` → full schema. Mirrors the reference's
    lazy raw-tags column pruning (``osmpbf/src/elements.rs:117-122``) as a
    declarative projection the kernel honors."""
    if columns is None:
        return OSM_SCHEMA
    wanted = set(columns)
    unknown = wanted - set(OSM_COLUMNS)
    if unknown:
        raise ValueError(f"unknown OSM columns: {sorted(unknown)}")
    return T.StructType([f for f in OSM_SCHEMA.fields if f.name in wanted])


def pruned_arrow_schema(columns: list[str] | None) -> pa.Schema:
    full = osm_arrow_schema()
    if columns is None:
        return full
    wanted = set(columns)
    return pa.schema([full.field(i) for i in range(len(full)) if full.field(i).name in wanted])
