"""Versioned snapshot store — a minimal table format on plain parquet.

The reference's connector story stops at stateless reads and writes
(``src/etlp/connector/protocols.clj:4-13``); its incremental
aspiration ("State" in the Airbyte triple, ``doc/intro.md``) never
materialized. This module supplies the batch half of that story as a
tiny, dependency-free table format:

- every ``write`` produces an immutable **version**: a parquet
  directory plus a JSON **manifest** listing exactly the files that
  make up that version (append-mode manifests inherit the parent's
  file list, so an append never rewrites data);
- ``read(version=...)`` is **time travel** — the scan plans over the
  manifest's file list, nothing else, so old versions stay readable
  bit-for-bit after later writes;
- ``diff`` computes the row-level delta between two versions with two
  key anti-joins — the input a downstream incremental pipeline (x38's
  fingerprint-store dedup, cache invalidation, CDC-ish syncs) wants;
- ``expire`` drops old versions but never a file a surviving manifest
  still references (append chains share files by design).

Scale notes: the manifest is metadata (file paths + counts) — O(files),
never O(rows); reads are plain ``spark.read.parquet(*files)`` so every
Catalyst property (column pruning, predicate pushdown, split planning)
applies untouched; ``diff`` shuffles only the key columns of the two
versions being compared. Manifest listing/IO uses the local filesystem
(the container has no object store); the manifest records absolute
file URIs, so porting to S3A/HDFS changes only ``_list_files`` and the
link-based commit (object stores want a conditional PUT instead).
Path comparison is already portable: every place a manifest string
meets a Spark-reported ``input_file_name()`` URI goes through
``_norm_file``, which realpath-normalizes local/file:// paths and
keeps scheme+netloc verbatim for object-store schemes — an
``s3a://bucket/...`` manifest string matches the identical reported
URI with no local mangling (unit-pinned by
``test_norm_file_keeps_object_store_uris``).

Commit protocol: ONE path for every mode. ``write`` (snapshot or
append), ``merge`` and ``compact`` read the parent manifest once,
stage their data in a writer-unique ``data/vNNNNN-<uuid>`` directory,
then publish the manifest built by the same single builder via
write-temp + ``os.link`` (atomic on POSIX; exclusive — see
concurrency below). A crashed write leaves an orphaned data directory
but NO manifest — readers never see a partial version; ``expire``
sweeps orphans. The store's directories are created by its first
commit: reading a missing root finds no versions and creates nothing.
What a version carries from its parent is decided in that builder
alone: ``files`` — append carries all of them (merge, the files it
did not rewrite); ``stats`` of carried files and ``properties`` —
every mode but snapshot; ``max_batch_id`` — always.

Concurrency contract: ONE writer at a time (the Structured-Streaming
``foreachBatch`` driver loop, or one batch job). Readers are always
safe concurrently with the writer (they only ever see committed
manifests). The contract is ENFORCED, not just documented: the
manifest publish goes through a pluggable ``CommitProtocol`` whose
contract is atomic + exclusive creation, so two writers racing the
same max+1 version number get one winner and one
``ConcurrentWriteError`` — never a silent clobber. The default
``LinkCommitProtocol`` uses write-temp + ``os.link``;
``ConditionalPutCommitProtocol`` is the object-store port (S3
``If-None-Match: *`` / GCS ``if_generation_match=0`` conditional PUT
— the same primitive, offered natively).
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import threading
import time
import uuid
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from etlp_spark.connectors.base import (
    CheckResult,
    Destination,
    Source,
    WriteResult,
    _json_schema,
)

__all__ = [
    "SnapshotStore",
    "SnapshotSource",
    "SnapshotSink",
    "ConcurrentWriteError",
    "CommitProtocol",
    "LinkCommitProtocol",
    "ConditionalPutCommitProtocol",
]


class ConcurrentWriteError(RuntimeError):
    """Two writers raced the same version number; the loser gets this
    instead of silently clobbering the winner's commit."""


class CommitProtocol:
    """The ONE primitive the store's exactly-once claim rests on:
    publish a small metadata payload at a destination name
    **atomically and exclusively** — readers see all-or-nothing, and
    of two racing writers exactly one succeeds while the other gets
    ``ConcurrentWriteError``. Everything else in the store (data
    staging, manifest reads, retention) is plain idempotent IO; only
    this publish needs a platform primitive, so only this is a seam.

    Implementations: ``LinkCommitProtocol`` (POSIX ``link(2)``) and
    ``ConditionalPutCommitProtocol`` (object-store conditional
    create: S3 ``PutObject`` with ``If-None-Match: *``, GCS
    ``x-goog-if-generation-match: 0``, Azure ``If-None-Match: *``).
    """

    def publish(self, payload: bytes, dest: str) -> None:
        """Atomically create ``dest`` with ``payload``; raise
        ``ConcurrentWriteError`` if ``dest`` already exists."""
        raise NotImplementedError


class LinkCommitProtocol(CommitProtocol):
    """POSIX publish: write-temp + fsync, then ``os.link`` to the
    final name. link(2) is atomic like rename but fails with
    FileExistsError if the destination exists — so two racing writers
    get one winner and one loud loser instead of a silent clobber
    (rename would overwrite). Readers still see all-or-nothing."""

    def publish(self, payload: bytes, dest: str) -> None:
        tmp = dest + f".tmp.{os.getpid()}.{threading.get_ident()}"
        with open(tmp, "wb") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, dest)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"{dest} was committed by another writer; re-read "
                "latest_version() and retry"
            ) from None
        finally:
            os.unlink(tmp)


class ConditionalPutCommitProtocol(CommitProtocol):
    """Object-store publish: ONE conditional PUT — no temp object, no
    rename (object stores have no atomic rename; single-object PUTs
    are already atomic, so exclusivity is the only thing the
    condition has to add).

    ``put_if_absent(key, payload) -> bool`` is the injected client
    call; it must return False (or raise a precondition-failed error
    mapped to False by the caller) when the key already exists:

    - **S3**: ``PutObject`` with ``IfNoneMatch="*"`` → HTTP 412
      means lost race (native since 2024; every S3 SDK exposes it);
    - **GCS**: upload with ``if_generation_match=0`` → HTTP 412;
    - **Azure Blob**: ``upload_blob(..., overwrite=False)`` →
      ``ResourceExistsError``.

    The mapped-to-bool shape keeps this module free of any SDK
    dependency while making the store's exactly-once guarantee
    portable: swap the protocol, keep every other code path.
    """

    def __init__(self, put_if_absent):
        self.put_if_absent = put_if_absent

    def publish(self, payload: bytes, dest: str) -> None:
        if not self.put_if_absent(dest, payload):
            raise ConcurrentWriteError(
                f"{dest} was committed by another writer; re-read "
                "latest_version() and retry"
            )


_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_log = logging.getLogger(__name__)


def _js(v):
    """JSON-native form for a zone-map stat value: numbers and strings
    pass through, everything else (timestamps, dates, Decimals)
    stringifies via ``str()``."""
    return v if isinstance(v, (int, float, str, type(None))) else str(v)


def _zone_lt(a, b):
    """Conservative zone-map ``a < b``: True/False when the comparison
    is well-defined, None (caller treats as may-match) when it is not.
    Stats arrive JSON-native (numbers, or ``str()``-ified timestamps /
    dates / Decimals); bounds arrive as whatever native type the caller
    holds, so both sides normalize through ``_js`` first.  String pairs
    that parse as Decimal compare numerically (``str()`` of a Decimal
    is NOT lexicographically ordered); other string pairs (the
    fixed-width ISO-ish forms ``str()`` emits for timestamps/dates)
    compare lexicographically, which IS order-correct for those forms.
    A number/string mix is undecidable — never prune on it."""
    from decimal import Decimal, InvalidOperation

    a, b = _js(a), _js(b)
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num):
        return a < b
    if isinstance(a, str) and isinstance(b, str):
        try:
            return Decimal(a) < Decimal(b)
        except InvalidOperation:
            return a < b
    return None


def _list_files(data_dir: str) -> list[str]:
    return sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _is_additive(old_json: str, new_schema) -> bool:
    """True iff ``new_schema`` only ADDS nullable columns to the
    schema serialized in ``old_json`` — every old field must survive
    with its name and type (nullability may widen), and every added
    field must be nullable (old files have no values for it)."""
    from pyspark.sql.types import StructType

    old = StructType.fromJson(json.loads(old_json))
    new_by_name = {f.name: f for f in new_schema.fields}
    for f in old.fields:
        nf = new_by_name.get(f.name)
        if nf is None or nf.dataType != f.dataType:
            return False
        if f.nullable and not nf.nullable:
            # narrowing nullable -> required would let the manifest
            # CLAIM non-null over old files that may hold nulls
            return False
    return all(
        f.nullable for f in new_schema.fields if f.name not in {o.name for o in old.fields}
    )


def _norm_file(f: str) -> str:
    """Canonical form for comparing a manifest file string against a
    path Spark reports via ``input_file_name()``. Spark always
    reports an absolute, scheme-qualified, symlink-opaque URI, while
    manifests store whatever string ``_list_files`` produced (which
    is relative when the store root is relative) — comparing them
    verbatim makes every merge on a relative/symlinked root fail.
    Local paths normalize to ``realpath(abspath(...))``; non-file
    schemes keep scheme+netloc and only unquote the path."""
    from urllib.parse import unquote, urlparse

    u = urlparse(f)
    if u.scheme in ("", "file"):
        p = unquote(u.path) if u.scheme == "file" else f
        return os.path.realpath(os.path.abspath(p))
    return f"{u.scheme}://{u.netloc}{unquote(u.path)}"


class SnapshotStore:
    """Versioned parquet snapshots with JSON manifests."""

    def __init__(self, root: str, commit_protocol: CommitProtocol | None = None):
        self.root = root
        self.commit_protocol = commit_protocol or LinkCommitProtocol()

    # ----- manifest plumbing -------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, _MANIFEST_DIR, f"v{version:05d}.json")

    def versions(self) -> list[int]:
        try:
            names = os.listdir(os.path.join(self.root, _MANIFEST_DIR))
        except FileNotFoundError:
            return []  # nothing committed yet (or a mistyped root)
        return sorted(
            int(f[1:-5]) for f in names if f.startswith("v") and f.endswith(".json")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def manifest(self, version: int) -> dict[str, Any]:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def _head(self) -> dict[str, Any] | None:
        """The latest manifest (None on an empty store) — the parent
        every commit reads exactly once."""
        latest = self.latest_version()
        return None if latest is None else self.manifest(latest)

    def _commit(self, manifest: dict[str, Any]) -> None:
        """Atomic, EXCLUSIVE manifest publish through the pluggable
        ``CommitProtocol`` (default: POSIX link(2); object stores:
        conditional PUT) — two racing writers that both computed
        ``latest+1`` get one winner and one loud
        ``ConcurrentWriteError`` instead of a silent clobber. Readers
        still see all-or-nothing."""
        payload = json.dumps(manifest, indent=1, sort_keys=True).encode()
        self.commit_protocol.publish(payload, self._manifest_path(manifest["version"]))

    # ----- write -------------------------------------------------------------

    def _file_stats(
        self, spark, files: list[str], stats_cols: tuple[str, ...]
    ) -> dict[str, dict[str, list]]:
        """Per-file [min, max] zone maps for ``stats_cols`` — ONE
        distributed job over the new files (group by
        ``input_file_name``), never a per-file loop. Values are
        JSON-native (numbers/strings); timestamps stringify."""
        from pyspark.sql import functions as F

        aggs = []
        for c in stats_cols:
            aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
        rows = (
            spark.read.parquet(*files)
            .withColumn("__sf", F.input_file_name())
            .groupBy("__sf")
            .agg(*aggs)
            .collect()  # bounded by |files|, not rows
        )
        by_norm = {_norm_file(f): f for f in files}

        out: dict[str, dict[str, list]] = {}
        for r in rows:
            # r["__sf"], not r.__sf — attribute access would name-mangle
            # inside this class body.  The RAW reported URI goes to
            # _norm_file (it handles schemes itself) — pre-stripping via
            # urlparse().path would localize s3a://bucket/... keys and
            # break the by_norm lookup for any non-local store root.
            f = by_norm[_norm_file(r["__sf"])]
            out[f] = {
                c: [_js(r[f"__lo_{c}"]), _js(r[f"__hi_{c}"])] for c in stats_cols
            }
        return out

    def _stage(self, df: DataFrame, version: int) -> tuple[str, list[str], int]:
        """Write ``df`` as the data of ``version``; returns (data dir,
        its parquet files, the rows re-read from them). The one place a
        version's data directory is created — and, on the first commit,
        the store itself.

        WRITER-UNIQUE staging dir: two writers racing the same version
        number must never share a data directory — Spark part-file
        names are job-unique, so a shared dir would let the winner's
        _list_files silently absorb the loser's rows. With a unique dir
        per write attempt, the exclusive manifest publish is the ONLY
        race point: the loser's staging dir is an unreferenced orphan
        that ``expire`` sweeps."""
        os.makedirs(os.path.join(self.root, _MANIFEST_DIR), exist_ok=True)
        data_dir = os.path.join(
            self.root, _DATA_DIR, f"v{version:05d}-{uuid.uuid4().hex[:12]}"
        )
        df.write.mode("errorifexists").parquet(data_dir)
        n = df.sparkSession.read.parquet(data_dir).count()
        return data_dir, _list_files(data_dir), n

    def _commit_version(
        self,
        pm: dict[str, Any] | None,
        mode: str,
        out: DataFrame,
        schema: str,
        *,
        carried: Sequence[str] = (),
        n_carried: int = 0,
        stats_cols: tuple[str, ...] = (),
        batch_id: int | None = None,
        properties: "dict[str, Any] | None" = None,
    ) -> tuple[dict[str, Any], WriteResult]:
        """The one commit path: stage ``out`` as the version after
        ``pm`` (the parent manifest, None on an empty store), assemble
        its manifest and publish it. Returns (manifest, WriteResult).

        ``carried`` are parent files the new version keeps by
        reference (``n_carried`` rows). Every mode but ``snapshot``
        inherits the parent's ``stats_cols`` (unless this commit names
        its own), the stats of the carried files, and its
        ``properties`` overlaid by this commit's. ``max_batch_id`` — the
        monotonic batch-id watermark — is ALWAYS carried forward as
        max(parent's, ``batch_id``), so the exactly-once check survives
        ``expire`` deleting the manifest that recorded a batch id."""
        version = (pm["version"] if pm else 0) + 1
        data_dir, new_files, n_new = self._stage(out, version)
        manifest: dict[str, Any] = {
            "version": version,
            "parent": pm["version"] if pm else None,
            "mode": mode,
            "committed_at": time.time(),
            "files": [*carried, *new_files],
            "n_rows": n_carried + n_new,
            "schema": schema,
        }
        inherited = pm if pm and mode != "snapshot" else {}
        stats_cols = stats_cols or tuple(inherited.get("stats_cols", ()))
        if stats_cols:
            old = inherited.get("stats", {})
            stats = {f: old[f] for f in carried if f in old}
            stats.update(self._file_stats(out.sparkSession, new_files, stats_cols))
            manifest["stats_cols"] = list(stats_cols)
            manifest["stats"] = stats
        props = {**inherited.get("properties", {}), **(properties or {})}
        if props:
            manifest["properties"] = props
        wm = pm.get("max_batch_id") if pm else None
        if batch_id is not None:
            manifest["batch_id"] = batch_id
            wm = batch_id if wm is None else max(wm, batch_id)
        if wm is not None:
            manifest["max_batch_id"] = wm
        self._commit(manifest)
        return manifest, WriteResult(
            rows=n_new, target=data_dir, extra={"version": version}
        )

    def write(
        self,
        df: DataFrame,
        mode: str = "snapshot",
        *,
        batch_id: int | None = None,
        stats_cols: tuple[str, ...] = (),
        evolve: bool = False,
        properties: "dict[str, Any] | None" = None,
    ) -> WriteResult:
        """Commit a new version.

        ``snapshot``: the new version IS ``df``.
        ``append``: the new version is the parent version plus ``df``
        — manifest-level concatenation, no data rewritten. Appends
        require a schema identical to the parent's (by field name and
        type; nothing silently widens).

        ``batch_id`` stamps the manifest (used by ``write_batch`` for
        exactly-once streaming commits).

        ``stats_cols`` records per-file [min, max] ZONE MAPS in the
        manifest (the x102 layout audit's mechanism, made real):
        ``read_pruned`` then skips files whose zone cannot match a
        range predicate — manifest-level file skipping on top of
        parquet's own row-group pruning. Sort/z-order ``df`` by the
        stats columns before writing to make the zones tight. Appends
        inherit the parent's stats for carried files (stats_cols
        defaults to the parent's choice so a chain stays prunable).

        ``properties`` records JSON-native key/values verbatim in the
        manifest (the Iceberg table-properties idea at snapshot
        granularity) — train-time diagnostics, provenance, whatever a
        writer wants readers to see next to the version. Every mode
        but snapshot inherits the parent's properties, overlaid by
        this write's."""
        if mode not in ("snapshot", "append"):
            raise ValueError(f"mode must be snapshot|append, got {mode!r}")
        pm = self._head()
        if pm is None:
            mode = "snapshot"  # first write of an append stream
        carried, n_carried = (), 0
        if mode == "append":
            if pm["schema"] != df.schema.json():
                if not (evolve and _is_additive(pm["schema"], df.schema)):
                    raise ValueError(
                        "append schema mismatch with parent version "
                        f"{pm['version']}: {pm['schema']} != {df.schema.json()}"
                        + (
                            ""
                            if evolve
                            else " (pass evolve=True to ADD nullable columns)"
                        )
                    )
                # additive evolution: the manifest adopts the WIDER
                # schema; reads supply it explicitly, so old files
                # yield NULL for the added columns
            carried, n_carried = pm["files"], pm["n_rows"]
        return self._commit_version(
            pm, mode, df, df.schema.json(),
            carried=carried, n_carried=n_carried, stats_cols=stats_cols,
            batch_id=batch_id, properties=properties,
        )[1]

    def committed_batch_ids(self) -> set[int]:
        """Batch ids recorded by the LIVE manifests — a read-only
        query; replay detection uses ``batch_watermark``, which also
        covers ids whose manifests ``expire`` deleted."""
        return {
            m["batch_id"]
            for v in self.versions()
            for m in [self.manifest(v)]
            if "batch_id" in m
        }

    def batch_watermark(self) -> int | None:
        """Highest batch id EVER committed, from the carried-forward
        ``max_batch_id`` stamp of the LATEST manifest (one read) —
        defined even after ``expire`` has deleted the manifest that
        originally recorded it, since every commit carries the running
        max forward and ``expire`` always keeps at least one
        version."""
        pm = self._head()
        return pm.get("max_batch_id") if pm else None

    def _is_replay(self, batch_id: int) -> bool:
        """The replay check ``write_batch`` and ``merge_batch`` share:
        ids at or below ``batch_watermark`` already committed, since
        Structured Streaming batch ids are monotonic.

        OPERATIONAL HAZARD the monotonicity assumption implies: a
        stream restarted with a FRESH checkpoint resets batch ids to
        0, and this check will treat those ids as replays of
        already-committed batches — a checkpoint reset therefore
        needs a fresh store root too. The telltale is batch_id 0
        arriving below a positive watermark (a legitimate replay of
        an expired batch is always a RECENT id near the watermark,
        never 0), so exactly that case logs a WARNING; ordinary
        replays skip silently, by design."""
        wm = self.batch_watermark()
        if wm is None or batch_id > wm:
            return False
        if batch_id == 0 and wm > 0:
            _log.warning(
                "snapshot store %s: batch_id=0 arrived below "
                "watermark=%d — this looks like a stream restarted "
                "with a RESET checkpoint; point it at a fresh store "
                "root or every batch up to the old watermark will "
                "be silently dropped",
                self.root, wm,
            )
        return True

    def write_batch(
        self, df: DataFrame, batch_id: int, mode: str = "append"
    ) -> WriteResult | None:
        """Exactly-once ``foreachBatch`` sink: commit the micro-batch
        as a new version stamped with its batch id, SKIPPING ids that
        already committed — Structured Streaming replays the last
        batch after failure recovery, and this check is what turns
        the store's atomic manifest commit into an idempotent (hence
        exactly-once) sink. Returns None for a skipped replay (see
        ``_is_replay``).

        Use as ``writeStream.foreachBatch(lambda df, bid:
        store.write_batch(df, bid))`` with a checkpointLocation."""
        if self._is_replay(batch_id):
            return None
        return self.write(df, mode=mode, batch_id=batch_id)

    def merge_batch(
        self, df: DataFrame, key_cols: list[str], batch_id: int
    ) -> WriteResult | None:
        """Exactly-once streaming UPSERT: ``merge`` with the same
        replay skip as ``write_batch``. A replayed micro-batch
        re-applying a merge would not corrupt rows (merge is
        idempotent on identical input), but it WOULD burn a version
        and rewrite the hit files a second time — the skip keeps the
        version chain 1:1 with committed batches.

        Use via the streaming config's snapshot sink with
        ``{"mode": "merge", "key_cols": [...]}``."""
        if self._is_replay(batch_id):
            return None
        return self.merge(df, key_cols, batch_id=batch_id)

    # ----- read --------------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Time-travel read: plan over exactly the named version's
        file list (default: latest)."""
        if version is None:
            version = self.latest_version()
        if version is None:
            raise FileNotFoundError(f"snapshot store {self.root} has no versions")
        m = self.manifest(version)
        return self._reader(spark, m).parquet(*m["files"])

    @staticmethod
    def _reader(spark: SparkSession, m: dict[str, Any]):
        """Reads supply the MANIFEST schema explicitly: after additive
        evolution the file set mixes schemas, and an explicit schema
        makes old files yield NULL for added columns (no mergeSchema
        scan of every footer needed — the manifest already knows)."""
        from pyspark.sql.types import StructType

        return spark.read.schema(StructType.fromJson(json.loads(m["schema"])))

    def read_increment(
        self, spark: SparkSession, from_version: int, to_version: int
    ) -> DataFrame:
        """Incremental scan along an APPEND chain: exactly the rows in
        files added after ``from_version`` up to ``to_version`` — the
        Iceberg-style incremental read that lets a downstream consumer
        (or an incremental aggregate) process ONLY the delta instead
        of rescanning 100 TB per version. Plans over the file-list
        difference, so cost scales with the increment, not the table.

        Only well-defined when the chain is append-only between the
        two versions: if any of ``from_version``'s files was REMOVED
        (merge/compact/snapshot rewrote data), file-level increments
        no longer equal row-level deltas and this raises — use
        ``diff`` (key-level, two anti-joins) for rewrite chains."""
        mf = self.manifest(from_version)
        mt = self.manifest(to_version)
        old = {_norm_file(f) for f in mf["files"]}
        new_files = [f for f in mt["files"] if _norm_file(f) not in old]
        removed = old - {_norm_file(f) for f in mt["files"]}
        if removed:
            raise ValueError(
                f"versions v{from_version}..v{to_version} are not an "
                f"append chain ({len(removed)} file(s) removed — a "
                "merge/compact/snapshot rewrote data); use diff() for "
                "row-level deltas across rewrites"
            )
        if not new_files:
            return self._reader(spark, mt).parquet(*mt["files"]).limit(0)
        return self._reader(spark, mt).parquet(*new_files)

    def read_pruned(
        self,
        spark: SparkSession,
        ranges: dict[str, tuple],
        version: int | None = None,
    ) -> tuple[DataFrame, dict[str, int]]:
        """Zone-map file skipping: plan over ONLY the files whose
        manifest [min, max] stats can overlap every ``{col: (lo,
        hi)}`` range (None bound = unbounded). Returns (DataFrame,
        {"files_total", "files_read"}). The predicate itself is ALSO
        applied to the scan — pruning is a plan optimization, never a
        semantics change; files without recorded stats for a column
        are read (safe). This is x102's audit turned into the actual
        table format: manifest-level skipping above parquet's own
        row-group zone maps, the Delta/Iceberg data-skipping shape."""
        from pyspark.sql import functions as F

        if version is None:
            version = self.latest_version()
        if version is None:
            raise FileNotFoundError(f"snapshot store {self.root} has no versions")
        m = self.manifest(version)
        stats = m.get("stats", {})

        def may_match(f: str) -> bool:
            fs = stats.get(f)
            if fs is None:
                return True
            for col, (lo, hi) in ranges.items():
                if col not in fs:
                    continue
                fmin, fmax = fs[col]
                if fmin is None or fmax is None:
                    continue  # all-NULL file zone: cannot disprove
                # _zone_lt returns None when stat/bound types are not
                # comparably normalized (e.g. numeric bound vs a
                # stringified stat) — None is falsy, so the file is
                # read: pruning degrades to may-match, never raises
                # and never lexicographically mis-prunes.
                if lo is not None and _zone_lt(fmax, lo):
                    return False
                if hi is not None and _zone_lt(hi, fmin):
                    return False
            return True

        keep = [f for f in m["files"] if may_match(f)]
        info = {"files_total": len(m["files"]), "files_read": len(keep)}
        if not keep:
            df = self._reader(spark, m).parquet(*m["files"]).limit(0)
            return df, info
        df = self._reader(spark, m).parquet(*keep)
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.where(F.col(col) >= lo)
            if hi is not None:
                df = df.where(F.col(col) <= hi)
        return df, info

    # ----- delta -------------------------------------------------------------

    def diff(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int,
        key_cols: list[str],
    ) -> DataFrame:
        """Row-level delta between versions by key: one row per key
        present in only one side, tagged ``change_type`` =
        'added'|'removed'. Two key-column anti-joins — only the keys
        shuffle, never full rows of either version."""
        old = self.read(spark, from_version).select(*key_cols).distinct()
        new = self.read(spark, to_version).select(*key_cols).distinct()
        added = new.join(old, key_cols, "left_anti").selectExpr(
            *key_cols, "'added' AS change_type"
        )
        removed = old.join(new, key_cols, "left_anti").selectExpr(
            *key_cols, "'removed' AS change_type"
        )
        return added.unionByName(removed)

    # ----- merge (upsert) ----------------------------------------------------

    def merge(
        self, df: DataFrame, key_cols: list[str], *, batch_id: int | None = None
    ) -> WriteResult:
        """MERGE / upsert by key, file-granular copy-on-write — the
        Delta-Lake-style ``MERGE INTO`` skeleton: rows of ``df``
        REPLACE parent rows sharing their key; all other parent rows
        carry over. Only data files that actually CONTAIN a matched
        key are rewritten (located via ``input_file_name`` + a
        key semi-join); untouched files join the new manifest by
        REFERENCE, zero bytes moved — on a long append chain where an
        upsert touches recent data, almost all of the table is
        carried, not copied. Older versions keep referencing the old
        files (time travel intact) until ``expire`` reclaims them.

        Scale shape: one key semi-join (keys only shuffle, never full
        rows) to find hit files; one anti-join over JUST the hit
        files' rows for the rewrite. The only driver-side state is
        the hit FILE list — bounded by |files|, never by rows.
        """
        pm = self._head()
        if pm is None:
            return self.write(df, "snapshot", batch_id=batch_id)
        if pm["schema"] != df.schema.json():
            raise ValueError(
                f"merge schema mismatch with parent version {pm['version']}: "
                f"{pm['schema']} != {df.schema.json()}"
            )
        spark = df.sparkSession
        keys = df.select(*key_cols).distinct()
        # EVERY parent-file read below goes through _reader: after an
        # evolve=True append the manifest's file set mixes schemas, and
        # a schema-less read would infer from one (possibly
        # pre-evolution) file — silently dropping the evolved column
        # from the rewritten survivors. The manifest schema is the
        # truth; old files null-fill added columns.
        old = self._reader(spark, pm).parquet(*pm["files"])
        hit_rows = (
            old.withColumn("_sf", F.input_file_name())
            .join(keys, key_cols, "left_semi")
            .select("_sf")
            .distinct()
            .collect()  # bounded by |data files|, not by rows
        )
        by_norm = {_norm_file(f): f for f in pm["files"]}
        # raw URI to _norm_file — see _file_stats
        hit_norm = sorted({_norm_file(r._sf) for r in hit_rows})
        unknown = set(hit_norm) - set(by_norm)
        if unknown:
            raise RuntimeError(f"merge located files outside the manifest: {unknown}")
        # rewrite/carry in MANIFEST terms so the new manifest's strings
        # stay consistent with the parent's (relative root stays relative)
        hit_files = [by_norm[n] for n in hit_norm]
        untouched = [f for f in pm["files"] if _norm_file(f) not in set(hit_norm)]

        if hit_files:
            survivors = self._reader(spark, pm).parquet(*hit_files).join(
                keys, key_cols, "left_anti"
            )
            out = survivors.unionByName(df)
            n_hit = self._reader(spark, pm).parquet(*hit_files).count()
        else:
            out = df
            n_hit = 0
        _, res = self._commit_version(
            pm, "merge", out, df.schema.json(),
            carried=untouched, n_carried=pm["n_rows"] - n_hit, batch_id=batch_id,
        )
        res.extra.update(files_rewritten=len(hit_files), files_carried=len(untouched))
        return res

    # ----- compaction --------------------------------------------------------

    def compact(self, spark: SparkSession) -> WriteResult:
        """Small-files maintenance: rewrite the LATEST version's rows
        into total data bytes / 128 MiB parquet files (floor 1) and
        commit the result as a new version with identical rows — the
        compaction every long append chain needs before its manifest
        references thousands of micro-batch part-files. Prior versions
        still reference the old files (time travel intact); ``expire``
        reclaims them once the history ages out.
        """
        pm = self._head()
        if pm is None:
            raise FileNotFoundError(f"snapshot store {self.root} has no versions")
        total = sum(os.path.getsize(f) for f in pm["files"])
        # _reader, not schema-less read: after additive evolution the
        # file set mixes schemas — inferring from one pre-evolution
        # file would compact the evolved column OUT of the data while
        # the manifest keeps claiming it (permanent silent null-fill).
        out = self._reader(spark, pm).parquet(*pm["files"]).coalesce(
            max(1, total // (128 * 1024 * 1024))
        )
        m, res = self._commit_version(pm, "compact", out, pm["schema"])
        res.extra.update(files_before=len(pm["files"]), files_after=len(m["files"]))
        return res

    # ----- retention ---------------------------------------------------------

    def expire(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` versions. Data files
        still referenced by a SURVIVING manifest are kept (append
        chains share files); orphaned data directories from crashed
        writes are swept too. Returns the expired version numbers.
        ``keep_last`` must be >= 1: dropping every version would delete
        the table and, with it, the exactly-once batch watermark."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        vs = self.versions()
        expired = vs[:-keep_last]
        survivors = vs[len(expired):]
        keep_files = set()
        for v in survivors:
            keep_files.update(self.manifest(v)["files"])
        for v in expired:
            os.remove(self._manifest_path(v))
        # sweep data dirs with no referenced files left (incl. orphans)
        ddir = os.path.join(self.root, _DATA_DIR)
        if os.path.isdir(ddir):
            for d in sorted(os.listdir(ddir)):
                full = os.path.join(ddir, d)
                files = set(_list_files(full))
                if files:
                    sweep = files.isdisjoint(keep_files)
                else:
                    # No parquet at all: a crashed write that only got
                    # as far as _SUCCESS/metadata (or an empty staging
                    # dir). Writer-unique dir names make these
                    # accumulate across retries, so sweep them too —
                    # UNLESS a `_temporary` subdir marks a write still
                    # in flight (belt-and-braces; the one-writer
                    # contract already says expire shouldn't race a
                    # write).
                    sweep = not os.path.isdir(os.path.join(full, "_temporary"))
                if sweep:
                    shutil.rmtree(full)
        return expired


class SnapshotSource(Source):
    """Connector-protocol adapter: read a store version as a Source
    (``spec``/``check``/``discover`` come from the ABC — discover
    reflects the manifest version's real schema)."""

    def __init__(self, root: str, version: int | None = None):
        self.store = SnapshotStore(root)
        self.version = version
        self.stream_name = os.path.basename(root.rstrip("/")) or "snapshots"

    def spec(self) -> dict[str, Any]:
        return {
            "connector": "snapshot-source",
            "config": {"root": self.store.root, "version": self.version},
            "versions_available": self.store.versions(),
        }

    def read(self, spark: SparkSession) -> DataFrame:
        return self.store.read(spark, self.version)

    def check(self, spark: SparkSession) -> CheckResult:
        try:
            v = self.version if self.version is not None else self.store.latest_version()
            if v is None:
                return CheckResult(False, "store has no versions")
            if v not in self.store.versions():
                return CheckResult(False, f"version {v} not found")
            return CheckResult(True, f"version {v} readable")
        except Exception as e:  # noqa: BLE001 — probe reports, never raises
            return CheckResult(False, f"{type(e).__name__}: {e}")

    def discover(self, spark: SparkSession) -> dict[str, Any]:
        df = self.read(spark)
        return {
            "streams": [
                {
                    "stream_name": self.stream_name,
                    "schema": _json_schema(df.schema),
                    "version": self.version or self.store.latest_version(),
                }
            ]
        }


class SnapshotSink(Destination):
    """Connector-protocol adapter: every ``write`` commits a new
    version — ``snapshot`` / ``append`` per ``mode``, or ``merge``
    (upsert by ``key_cols``, file-granular copy-on-write).

    ``cluster_by`` requests Z-ORDERED layout declaratively (the r9
    config surface for ``functions/layout.zorder_sort``): the frame is
    Morton-clustered on those columns before the write and — unless
    ``stats_cols`` says otherwise — the same columns get manifest zone
    maps, so a config-built pipeline gets the full cluster → record →
    prune loop (``read_pruned``) with one key. ``cluster_files``
    bounds the clustered file count. Clustering applies to
    snapshot/append commits; ``merge`` rewrites only hit files, where
    re-clustering a fraction of the z-range would SCRAMBLE the
    parent's layout, so it is rejected loudly rather than silently
    degraded (run ``compact`` + a clustered snapshot to re-layout)."""

    def __init__(
        self,
        root: str,
        mode: str = "snapshot",
        key_cols: list[str] | None = None,
        stats_cols: list[str] | None = None,
        cluster_by: list[str] | None = None,
        cluster_files: int = 16,
    ):
        if mode == "merge" and not key_cols:
            raise ValueError("snapshot sink mode 'merge' requires key_cols")
        if mode == "merge" and cluster_by:
            raise ValueError(
                "cluster_by does not compose with mode 'merge' (a merge "
                "rewrites only hit files — re-clustering a subset would "
                "scramble the parent layout); compact then write a "
                "clustered snapshot instead"
            )
        self.store = SnapshotStore(root)
        self.mode = mode
        self.key_cols = list(key_cols or [])
        self.cluster_by = tuple(cluster_by or ())
        self.cluster_files = int(cluster_files)
        # zone maps default to the clustering columns — that pairing
        # is the entire point of clustering the write
        self.stats_cols = tuple(stats_cols or ()) or self.cluster_by

    def spec(self) -> dict[str, Any]:
        return {
            "connector": "snapshot-sink",
            "config": {"root": self.store.root, "mode": self.mode,
                       **({"key_cols": self.key_cols} if self.key_cols else {}),
                       **({"cluster_by": list(self.cluster_by)}
                          if self.cluster_by else {})},
        }

    def write(self, df: DataFrame) -> WriteResult:
        if self.mode == "merge":
            return self.store.merge(df, self.key_cols)
        if self.cluster_by:
            from etlp_spark.functions.layout import zorder_sort

            df = zorder_sort(df, self.cluster_by, num_files=self.cluster_files)
        return self.store.write(df, mode=self.mode, stats_cols=self.stats_cols)
