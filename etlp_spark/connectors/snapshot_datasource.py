"""``etlp-snapshots`` — the versioned snapshot store as a Spark 4
Python DataSource, batch AND streaming.

``connectors/snapshots.py`` gives the store a programmatic API
(``SnapshotStore.read`` plans ``spark.read.parquet(*files)`` — the
performance path, full native-scan pushdown). This module adds the
STANDARD reader syntax on top, which buys two things the programmatic
API can't express:

- **uniform access**: ``spark.read.format("etlp-snapshots")
  .option("root", ...).option("version", 3).load()`` — time travel
  through the same reader interface every other source uses, schema
  self-described from the version's manifest;
- **a streaming tail**: ``spark.readStream.format("etlp-snapshots")``
  turns the store into a CDC-style source — every committed version
  becomes a micro-batch containing that version's NEW files (append
  chains share parent files, so the per-version delta is exactly the
  appended data). Offsets are manifest version numbers: replayable,
  exactly-once under checkpointing, resistant to ``expire`` (offsets
  only move forward).

Executor-side reads yield ``pyarrow.RecordBatch`` directly (Spark 4's
Python DataSource accepts Arrow batches from ``read``), so rows never
materialize as Python tuples — the scan stays Arrow end-to-end:
parquet → Arrow batch → Spark columnar, with per-batch (not per-row)
Python overhead. For heavy BATCH analytics ``SnapshotStore.read``
(native JVM scan with full pushdown) remains the performance ceiling;
the DataSource's batch mode buys uniform reader syntax, and its
STREAMING mode has no native equivalent at all. Reference: the
reference's never-built "State" leg of the Airbyte triple
(``doc/intro.md``), here as a working incremental source.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from etlp_spark.connectors.snapshots import SnapshotStore

__all__ = ["SnapshotDataSource"]


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _read_parquet_batches(path: str, schema: StructType) -> Iterator:
    """Stream a parquet file as ``pyarrow.RecordBatch`` objects cast to
    exactly the Arrow schema Spark expects for ``schema`` (timestamp
    unit/zone, large-vs-small strings). Streaming via
    ``ParquetFile.iter_batches`` bounds memory to one row-group batch
    regardless of file size; the cast is zero-copy when the on-disk
    types already match (the common case — the files were written by
    Spark from this very schema)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    pf = pq.ParquetFile(path)
    try:
        for batch in pf.iter_batches(columns=list(target.names)):
            tbl = pa.Table.from_batches([batch]).select(target.names)
            yield from tbl.cast(target).to_batches()
    finally:
        pf.close()


class _SnapshotBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict[str, str]):
        self.schema = schema
        self.root = options["root"]
        v = options.get("version")
        vs = SnapshotStore(self.root).versions()
        if not vs:
            raise ValueError(f"snapshot store {self.root} has no versions")
        self.version = int(v) if v is not None else vs[-1]
        if self.version not in vs:
            raise ValueError(
                f"version {self.version} not in store {self.root}; have {vs}"
            )

    def partitions(self) -> Sequence[InputPartition]:
        files = SnapshotStore(self.root).manifest(self.version)["files"]
        return [_FilePartition(p) for p in files]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        return _read_parquet_batches(partition.path, self.schema)


class _SnapshotStreamReader(DataSourceStreamReader):
    """Version-tail stream: offset = committed manifest version; each
    micro-batch carries the versions in (start, end] as one partition
    per NEW file (delta vs the previous version's file set)."""

    def __init__(self, schema: StructType, options: dict[str, str]):
        self.schema = schema
        self.root = options["root"]

    def initialOffset(self) -> dict:
        start = 0  # before the first version; first batch reads from v1
        return {"version": start}

    def latestOffset(self) -> dict:
        vs = SnapshotStore(self.root).versions()
        return {"version": vs[-1] if vs else 0}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        """Delta reconstruction that survives ``expire`` of
        intermediate versions: "already delivered" is seeded from the
        NEWEST SURVIVING manifest at-or-below the start offset (append
        chains make that a superset of every older version's files),
        then accumulates across the versions of this batch range —
        so an expired v-1 never resets the delta to the full file
        set. Exactly-once holds as long as retention keeps at least
        one version at-or-below the consumer's committed offset
        (``expire(keep_last >= consumer lag + 1)``) — the same
        contract every CDC log compaction has."""
        out: list[_FilePartition] = []
        store = SnapshotStore(self.root)
        vs = store.versions()
        delivered: set[str] = set()
        base = [w for w in vs if w <= start["version"]]
        if base:
            delivered = set(store.manifest(max(base))["files"])
        elif start["version"] > 0:
            # Retention broke the contract: every manifest at-or-below
            # the committed offset is gone, so the delta baseline is
            # unreconstructable. Failing loudly beats silently
            # re-delivering every surviving file as "new" (a silent
            # exactly-once break a downstream would only notice as
            # duplicate rows much later).
            raise RuntimeError(
                f"snapshot store {self.root}: retention dropped every "
                f"manifest at-or-below committed offset "
                f"{start['version']} (surviving versions: {vs}); the "
                "delta baseline cannot be reconstructed and rows would "
                "be re-delivered. Re-run expire with keep_last >= "
                "consumer lag + 1, or restart the stream with a fresh "
                "checkpoint if duplicates are acceptable."
            )
        for v in vs:
            if not (start["version"] < v <= end["version"]):
                continue
            files = set(store.manifest(v)["files"])
            out.extend(_FilePartition(p) for p in sorted(files - delivered))
            delivered |= files
        return out

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        return _read_parquet_batches(partition.path, self.schema)

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the query checkpoint


class SnapshotDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "etlp-snapshots"

    def schema(self) -> str:
        """Self-describing from the manifest of the version actually
        being read — the 'version' option selects it (snapshot-mode
        writes may change schema between versions; using the latest
        manifest for a time-travel read would mis-shape the rows)."""
        root = self.options["root"]
        store = SnapshotStore(root)
        vs = store.versions()
        if not vs:
            raise ValueError(f"snapshot store {root} has no versions")
        v = self.options.get("version")
        version = int(v) if v is not None else vs[-1]
        if version not in vs:
            raise ValueError(f"version {version} not in store {root}; have {vs}")
        return StructType.fromJson(json.loads(store.manifest(version)["schema"]))

    def reader(self, schema: StructType) -> DataSourceReader:
        return _SnapshotBatchReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _SnapshotStreamReader(schema, dict(self.options))
