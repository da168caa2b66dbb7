"""Elasticsearch sink adapter (reference: pkg/es/es.go).

The reference bulk-indexes with DocumentID=uuid (last-write-wins upsert,
`es.go:186`), N workers, 5 MB/30 s flush (`es.go:161-168`), retry on
429/5xx with exponential backoff + request compression (`es.go:133-158`),
and a dated index behind an alias (`es.go:78-116`).

With the elasticsearch-spark connector every one of those is an option
(``EsSinkOptions.to_options``); without the jar the parquet
dated-partition sink in streaming/stream.py reproduces the same
semantics (key-addressed upsert + daily partitions) for tests.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Spark transcription of schema/es/mapping.json `properties` (the ES
# field_type -> Spark type map is the standard one: text/keyword ->
# string, date -> timestamp, nested -> array<struct>).  `dynamic:
# "strict"` (mapping.json:11) means ES REJECTS documents carrying any
# field not declared here — enforce_strict_mapping reproduces that
# contract on the Spark side, BEFORE bytes reach the cluster.
INDEX_MAPPING_SPARK = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("identifier", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("ingestion_time", T.TimestampType()),
        T.StructField("persist_time", T.TimestampType()),
        T.StructField("uuid", T.StringType()),
        T.StructField(
            "tags",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("type", T.StringType()),
                        T.StructField("value", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


class StrictMappingViolation(ValueError):
    """A batch schema the ES index (dynamic: strict) would reject."""


def enforce_strict_mapping(
    df: DataFrame, mapping: T.StructType = INDEX_MAPPING_SPARK
) -> DataFrame:
    """ES `dynamic: "strict"` on the Spark side: raise on any column the
    index mapping doesn't declare, and on any declared column whose type
    differs from the mapping (ES would reject those documents one bulk
    item at a time — failing the whole batch HERE is strictly better: no
    partial bulk, no poison-item retry loops).  Missing columns are fine
    (ES documents are sparse); output columns are ordered as declared.

    Nullability is ignored in the comparison (Spark's inferred
    nullability varies by source and carries no ES meaning)."""
    declared = {f.name: f.dataType for f in mapping.fields}
    unknown = [c for c in df.schema.fields if c.name not in declared]
    if unknown:
        raise StrictMappingViolation(
            "index mapping is dynamic=strict; unknown field(s) "
            + ", ".join(sorted(f.name for f in unknown))
            + " would be rejected by the sink (declared: "
            + ", ".join(sorted(declared)) + ")"
        )
    mistyped = [
        f
        for f in df.schema.fields
        # simpleString() drops nullability at every nesting level
        # (arrays/structs included), so this compares types modulo null
        if _canon(f.dataType) != _canon(declared[f.name])
    ]
    if mistyped:
        raise StrictMappingViolation(
            "field type(s) conflict with the index mapping: "
            + "; ".join(
                f"{f.name} is {f.dataType.simpleString()}, mapping declares "
                f"{declared[f.name].simpleString()}"
                for f in mistyped
            )
        )
    ordered = [f.name for f in mapping.fields if f.name in df.columns]
    return df.select(*ordered)


def _canon(dt: T.DataType) -> str:
    """Type identity modulo nullability (simpleString drops it)."""
    return dt.simpleString()


@dataclass
class EsSinkOptions:
    """Mirror of the reference's EsOptions (es.go:33-44) + bulk tuning."""

    nodes: str = "localhost:9200"
    alias: str = "index_data"
    shards: int = 4        # .env:18
    replicas: int = 0      # .env:19
    refresh_interval: str = "10s"  # .env:21, mapping.json:5
    batch_entries: int = 1000      # ≡ MAX_BATCH_SIZE .env:16
    batch_bytes: str = "5mb"       # es.go:166
    retry_count: int = 10          # ≡ RETRIES .env:11
    retry_wait: str = "10s"        # ≡ INSERT_RETRY_DELAY .env:20

    def to_options(self, dated_index: str) -> dict[str, str]:
        return {
            "es.nodes": self.nodes,
            "es.resource": dated_index,
            "es.mapping.id": "uuid",            # es.go:186
            "es.write.operation": "index",      # last-write-wins upsert
            "es.batch.size.entries": str(self.batch_entries),
            "es.batch.size.bytes": self.batch_bytes,
            "es.batch.write.retry.count": str(self.retry_count),
            "es.batch.write.retry.wait": self.retry_wait,
        }

