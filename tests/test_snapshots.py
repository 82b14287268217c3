"""Snapshot-store connector: versioned writes, time travel, append
chains, row-level diff, retention that respects shared files, and the
spec/check/discover protocol surface."""

import json
import os

import pytest

from etlp_spark.connectors.snapshots import SnapshotSink, SnapshotSource, SnapshotStore


@pytest.fixture()
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "tbl"))


def _df(spark, ids):
    return spark.createDataFrame([(i, f"r{i}") for i in ids], ["id", "val"])


def test_snapshot_versions_and_time_travel(spark, store):
    store.write(_df(spark, [1, 2, 3]))
    store.write(_df(spark, [2, 3, 4, 5]))
    assert store.versions() == [1, 2]
    assert sorted(r.id for r in store.read(spark, 1).collect()) == [1, 2, 3]
    assert sorted(r.id for r in store.read(spark).collect()) == [2, 3, 4, 5]
    # v1 stays bit-readable after later writes (immutability)
    m1 = store.manifest(1)
    assert m1["n_rows"] == 3 and m1["parent"] is None and m1["mode"] == "snapshot"


def test_append_chains_share_files(spark, store):
    store.write(_df(spark, [1, 2]))
    r = store.write(_df(spark, [3]), mode="append")
    assert r.extra["version"] == 2
    m1, m2 = store.manifest(1), store.manifest(2)
    # append inherits the parent's files — nothing rewritten
    assert set(m1["files"]) < set(m2["files"])
    assert m2["n_rows"] == 3 and m2["mode"] == "append"
    assert sorted(x.id for x in store.read(spark).collect()) == [1, 2, 3]


def test_append_schema_mismatch_rejected(spark, store):
    store.write(_df(spark, [1]))
    bad = spark.createDataFrame([(1.5, "x")], ["id", "val"])  # id double, not long
    with pytest.raises(ValueError, match="schema mismatch"):
        store.write(bad, mode="append")


def test_first_append_degrades_to_snapshot(spark, store):
    r = store.write(_df(spark, [1]), mode="append")
    assert r.extra["version"] == 1
    assert store.manifest(1)["mode"] == "snapshot"


def test_diff_added_and_removed(spark, store):
    store.write(_df(spark, [1, 2, 3]))
    store.write(_df(spark, [2, 3, 4]))
    delta = {
        (r.id, r.change_type)
        for r in store.diff(spark, 1, 2, key_cols=["id"]).collect()
    }
    assert delta == {(4, "added"), (1, "removed")}


def test_expire_keeps_files_shared_by_append_chain(spark, store):
    store.write(_df(spark, [1, 2]))          # v1
    store.write(_df(spark, [3]), mode="append")  # v2 references v1's files
    store.write(_df(spark, [9]))             # v3 snapshot — expire target keeps v2+v3
    expired = store.expire(keep_last=2)
    assert expired == [1]
    # v2 still reads all three rows: v1's data files survived because
    # v2's manifest references them
    assert sorted(r.id for r in store.read(spark, 2).collect()) == [1, 2, 3]
    assert store.versions() == [2, 3]


def test_expire_sweeps_unreferenced_and_orphaned_dirs(spark, store):
    store.write(_df(spark, [1]))  # v1
    store.write(_df(spark, [2]))  # v2 (independent snapshot)
    # simulate a crashed write: data dir with no manifest
    orphan = os.path.join(store.root, "data", "v99999")
    _df(spark, [7]).write.parquet(orphan)
    store.expire(keep_last=1)
    dirs = sorted(os.listdir(os.path.join(store.root, "data")))
    # v1 data and the orphan are gone; v2's (writer-unique-named)
    # staging dir survives as the only data dir
    assert len(dirs) == 1 and dirs[0].startswith("v00002-")
    assert sorted(r.id for r in store.read(spark).collect()) == [2]


def test_expire_rejects_keep_last_below_one(spark, store):
    """keep_last < 1 would drop every manifest and data dir — the
    whole table and its batch watermark. It is refused, and the
    refused call touches nothing."""
    store.write_batch(_df(spark, [1]), batch_id=0)
    store.write_batch(_df(spark, [2]), batch_id=1)
    data = sorted(os.listdir(os.path.join(store.root, "data")))
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            store.expire(keep_last=bad)
    assert store.versions() == [1, 2]
    assert sorted(os.listdir(os.path.join(store.root, "data"))) == data
    assert store.batch_watermark() == 1
    assert sorted(r.id for r in store.read(spark).collect()) == [1, 2]


def test_commit_is_manifest_last(spark, store):
    """Crash protocol: a version exists iff its manifest exists. The
    .tmp intermediary never counts as a version."""
    store.write(_df(spark, [1]))
    tmp = store._manifest_path(2) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": 2}, fh)
    assert store.versions() == [1]
    assert store.latest_version() == 1


def test_connector_protocol_surface(spark, tmp_path):
    root = str(tmp_path / "tbl")
    sink = SnapshotSink(root)
    res = sink.write(_df(spark, [1, 2]))
    assert res.rows == 2 and res.extra["version"] == 1
    assert sink.spec()["connector"] == "snapshot-sink"

    src = SnapshotSource(root)
    assert src.check(spark).ok
    cat = src.discover(spark)
    assert cat["streams"][0]["version"] == 1
    assert cat["streams"][0]["schema"]["properties"]["id"] == {"type": "integer"}
    assert sorted(r.id for r in src.read(spark).collect()) == [1, 2]

    missing = SnapshotSource(str(tmp_path / "empty"))
    assert not missing.check(spark).ok
    assert not (tmp_path / "empty").exists()  # a read-only probe creates nothing

    pinned = SnapshotSource(root, version=42)
    assert not pinned.check(spark).ok


def test_store_feeds_incremental_dedup_pattern(spark, store):
    """The State story: new-version keys anti-joined against the
    previous snapshot — the x38 fingerprint-store pattern running on
    store versions instead of ad-hoc paths."""
    store.write(_df(spark, [1, 2, 3]))
    store.write(_df(spark, [2, 3, 4, 5]))
    prev = store.read(spark, 1).select("id")
    fresh = store.read(spark, 2).join(prev, "id", "left_anti")
    assert sorted(r.id for r in fresh.collect()) == [4, 5]


def test_write_batch_is_idempotent_on_replay(spark, store):
    """Exactly-once commit protocol: a replayed micro-batch id is a
    no-op, so recovery-time re-delivery cannot double-append."""
    assert store.write_batch(_df(spark, [1, 2]), batch_id=0) is not None
    assert store.write_batch(_df(spark, [3]), batch_id=1) is not None
    # replay of batch 1 (what Structured Streaming does after restart)
    assert store.write_batch(_df(spark, [3]), batch_id=1) is None
    assert store.committed_batch_ids() == {0, 1}
    assert sorted(r.id for r in store.read(spark).collect()) == [1, 2, 3]


def test_streaming_foreach_batch_into_store(spark, store, tmp_path):
    """End-to-end: a file stream committing each micro-batch as a
    store version via foreachBatch — the versioned, exactly-once
    upgrade of the reference's save-into-database callback
    (src/etlp/utils/async.clj:8-12, state in an atom, at-most-once)."""
    import json as _json

    from etlp_spark.streaming import file_stream

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "b1.jsonl").write_text(
        "\n".join(_json.dumps({"id": i, "val": f"r{i}"}) for i in (1, 2))
    )
    src = file_stream(spark, str(indir), "id long, val string", fmt="json")
    q = (
        src.writeStream.foreachBatch(
            lambda df, bid: store.write_batch(df, bid) and None
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        (indir / "b2.jsonl").write_text(_json.dumps({"id": 3, "val": "r3"}))
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r.id for r in store.read(spark).collect()) == [1, 2, 3]
    assert store.committed_batch_ids() == {0, 1}
    # time travel still sees the first micro-batch alone
    assert sorted(r.id for r in store.read(spark, 1).collect()) == [1, 2]


def test_random_write_sequences_preserve_history(spark, tmp_path):
    """Model-based check over write sequences: after ANY mix of
    snapshot/append commits, every version's manifest row count is
    exact and time travel to ANY version reproduces the model state
    at that point."""
    import itertools

    # all 18 mode-sequences of length <=3 over a few id-lists, no RNG
    id_lists = [[1, 2], [3], [2, 4, 5]]
    for seq_len in (2, 3):
        for modes in itertools.product(("snapshot", "append"), repeat=seq_len):
            root = str(tmp_path / ("s" + "_".join(modes) + str(seq_len)))
            store = SnapshotStore(root)
            model: list[list[int]] = []  # model[v-1] = expected ids of version v
            for i, mode in enumerate(modes):
                ids = id_lists[i % len(id_lists)]
                store.write(_df(spark, ids), mode=mode)
                if mode == "append" and model:
                    model.append(model[-1] + ids)
                else:
                    model.append(list(ids))
            assert store.versions() == list(range(1, seq_len + 1))
            for v, expect in enumerate(model, start=1):
                assert store.manifest(v)["n_rows"] == len(expect)
                got = sorted(r.id for r in store.read(spark, v).collect())
                assert got == sorted(expect), (modes, v)


def test_streaming_chunking_into_store(spark, store, tmp_path):
    """Stateless M7 operators compose with Structured Streaming
    unchanged: chunk_documents applied to a document file stream,
    each micro-batch committed exactly-once to the snapshot store —
    the streaming ingest path of the RAG chunking pipeline."""
    import json as _json

    from etlp_spark.functions.text import chunk_documents
    from etlp_spark.streaming import file_stream

    indir = tmp_path / "docs_in"
    indir.mkdir()
    long_text = " ".join(f"w{i}" for i in range(80))  # 3 chunks @ 32/24
    (indir / "b1.jsonl").write_text(
        _json.dumps({"doc_id": 1, "text": long_text})
    )
    src = file_stream(spark, str(indir), "doc_id long, text string", fmt="json")
    chunked = chunk_documents(src, size=32, stride=24)
    q = (
        chunked.writeStream.foreachBatch(
            lambda df, bid: store.write_batch(df, bid) and None
        )
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        (indir / "b2.jsonl").write_text(
            _json.dumps({"doc_id": 2, "text": "tiny doc"})
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = store.read(spark).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 3 and len(by_doc[2]) == 1
    assert store.committed_batch_ids() == {0, 1}


def test_concurrent_commit_race_is_loud(spark, store):
    """Two writers racing the same version number: exactly one wins;
    the loser gets ConcurrentWriteError, never a silent clobber
    (manifest publish is write-temp + os.link, atomic AND exclusive)."""
    from etlp_spark.connectors.snapshots import ConcurrentWriteError

    store.write(_df(spark, [1]))
    winner = {"version": 2, "parent": 1, "mode": "snapshot",
              "committed_at": 0.0, "files": [], "n_rows": 0, "schema": "{}"}
    loser = dict(winner, n_rows=99)
    store._commit(winner)
    with pytest.raises(ConcurrentWriteError):
        store._commit(loser)
    # the winner's manifest survived untouched
    assert store.manifest(2)["n_rows"] == 0
    # no temp droppings left behind
    mdir = os.path.join(store.root, "_manifests")
    assert all(not f.endswith(".tmp") and ".tmp." not in f
               for f in os.listdir(mdir))


def test_conditional_put_protocol_race():
    """ConditionalPutCommitProtocol against a mock object store (a
    dict guarded by a lock — the atomicity a real conditional PUT
    provides server-side): N threads racing the same key produce
    exactly ONE stored payload and N-1 ConcurrentWriteErrors, and the
    stored bytes are the winner's (no torn/merged payload)."""
    import threading as _th

    from etlp_spark.connectors.snapshots import (
        ConcurrentWriteError,
        ConditionalPutCommitProtocol,
    )

    objects: dict[str, bytes] = {}
    lock = _th.Lock()

    def put_if_absent(key: str, payload: bytes) -> bool:
        with lock:  # server-side atomicity of the conditional PUT
            if key in objects:
                return False
            objects[key] = payload
            return True

    proto = ConditionalPutCommitProtocol(put_if_absent)
    n = 8
    errors, barrier = [], _th.Barrier(n)

    def go(i: int):
        barrier.wait()
        try:
            proto.publish(f"writer-{i}".encode(), "manifests/v00002.json")
        except ConcurrentWriteError as e:
            errors.append(e)

    ts = [_th.Thread(target=go, args=(i,)) for i in range(n)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(errors) == n - 1
    assert set(objects) == {"manifests/v00002.json"}
    assert objects["manifests/v00002.json"].decode().startswith("writer-")


def test_store_with_conditional_put_protocol(spark, tmp_path):
    """End-to-end: a SnapshotStore whose manifest commits go through
    ConditionalPutCommitProtocol (backed by O_CREAT|O_EXCL — the
    local-FS stand-in for a conditional PUT, same create-if-absent
    semantics). Writes, appends, reads and the two-writer race all
    behave exactly as with the default link protocol."""
    import os as _os

    from etlp_spark.connectors.snapshots import (
        ConcurrentWriteError,
        ConditionalPutCommitProtocol,
        SnapshotStore,
    )

    def put_if_absent(key: str, payload: bytes) -> bool:
        try:
            fd = _os.open(key, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
        except FileExistsError:
            return False
        with _os.fdopen(fd, "wb") as fh:
            fh.write(payload)
        return True

    store = SnapshotStore(
        str(tmp_path / "cps"),
        commit_protocol=ConditionalPutCommitProtocol(put_if_absent),
    )
    store.write(_df(spark, [1, 2]))
    store.write(_df(spark, [3]), mode="append")
    assert sorted(r.id for r in store.read(spark).collect()) == [1, 2, 3]
    assert sorted(r.id for r in store.read(spark, 1).collect()) == [1, 2]
    # racing manifest commit: loser is loud, winner survives untouched
    winner = {"version": 3, "parent": 2, "mode": "snapshot",
              "committed_at": 0.0, "files": [], "n_rows": 0, "schema": "{}"}
    store._commit(winner)
    with pytest.raises(ConcurrentWriteError):
        store._commit(dict(winner, n_rows=99))
    assert store.manifest(3)["n_rows"] == 0


def test_concurrent_full_writes_one_loser(spark, store):
    """Thread-level race on SnapshotStore.write: one commit lands, the
    other raises (either at the errorifexists data write or at the
    exclusive manifest link) — the store never ends up with two
    writers both believing they committed the same version."""
    import threading as _th

    from etlp_spark.connectors.snapshots import ConcurrentWriteError

    store.write(_df(spark, [1]))
    errors, oks = [], []
    barrier = _th.Barrier(2)

    def go(ids):
        barrier.wait()
        try:
            oks.append(store.write(_df(spark, ids)))
        except Exception as e:  # noqa: BLE001 — the loser's error type varies
            errors.append(e)

    ts = [_th.Thread(target=go, args=([10, 11],)), _th.Thread(target=go, args=([20],))]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(oks) + len(errors) == 2 and len(oks) >= 1
    # a loser must fail for the RACE reason (exclusive manifest link),
    # not some unrelated exception — staging dirs are writer-unique,
    # so the data write can no longer collide
    for e in errors:
        assert isinstance(e, ConcurrentWriteError), repr(e)
    # every committed version is readable and internally consistent,
    # and no committed version absorbed the loser's rows
    for v in store.versions():
        m = store.manifest(v)
        assert store.read(spark, v).count() == m["n_rows"]
    committed_ids = {
        r.id for v in store.versions() for r in store.read(spark, v).collect()
    }
    if errors:  # the loser's rows must NOT appear anywhere
        winner_rows = {r.id for r in store.read(spark).collect()}
        assert winner_rows <= {1, 10, 11, 20}
        assert not ({10, 11} <= winner_rows and {20} <= winner_rows)


def test_replay_older_than_retention_window_still_skipped(spark, store):
    """ADVICE r4: expire() used to weaken exactly-once — a replay of a
    batch id older than the retention window passed the live-manifest
    check. The carried-forward max_batch_id watermark closes it."""
    store.write_batch(_df(spark, [1]), batch_id=0)
    store.write_batch(_df(spark, [2]), batch_id=1)
    store.write_batch(_df(spark, [3]), batch_id=2)
    store.expire(keep_last=1)  # drops the manifests that recorded 0 and 1
    assert store.committed_batch_ids() == {2}  # live-id check alone would miss 0/1
    assert store.batch_watermark() == 2
    # a replay of batch 0 (pre-retention) must STILL be a no-op
    assert store.write_batch(_df(spark, [1]), batch_id=0) is None
    assert store.write_batch(_df(spark, [2]), batch_id=1) is None
    # and a genuinely new batch still commits
    assert store.write_batch(_df(spark, [4]), batch_id=3) is not None
    assert store.batch_watermark() == 3
    assert sorted(r.id for r in store.read(spark).collect()) == [1, 2, 3, 4]


def test_snapshot_datasource_batch_and_time_travel(spark, store):
    """spark.read.format('etlp-snapshots'): schema self-described
    from the manifest; default = latest; .option('version') = time
    travel; rows match the programmatic read path."""
    from etlp_spark.connectors.snapshot_datasource import SnapshotDataSource

    store.write(_df(spark, [1, 2, 3]))
    store.write(_df(spark, [4, 5]))
    spark.dataSource.register(SnapshotDataSource)
    latest = (
        spark.read.format("etlp-snapshots").option("root", store.root).load()
    )
    assert sorted(r.id for r in latest.collect()) == [4, 5]
    assert latest.schema == store.read(spark).schema
    v1 = (
        spark.read.format("etlp-snapshots")
        .option("root", store.root)
        .option("version", 1)
        .load()
    )
    assert sorted(r.id for r in v1.collect()) == [1, 2, 3]


def test_snapshot_datasource_streaming_tail(spark, store, tmp_path):
    """readStream.format('etlp-snapshots'): every committed version
    becomes a micro-batch of its NEW files only (append chains do not
    re-deliver parent data) — the store as a CDC-style source."""
    from etlp_spark.connectors.snapshot_datasource import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)
    store.write(_df(spark, [1, 2]))
    stream = (
        spark.readStream.format("etlp-snapshots")
        .option("root", store.root)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("snap_tail")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_tail"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(
            r.id for r in spark.sql("select * from snap_tail").collect()
        ) == [1, 2]
        # append v2: the tail must deliver ONLY the delta rows
        store.write(_df(spark, [3]), mode="append")
        q.processAllAvailable()
        got = [r.id for r in spark.sql("select * from snap_tail").collect()]
        assert sorted(got) == [1, 2, 3]
        assert got.count(1) == 1 and got.count(2) == 1  # no re-delivery
    finally:
        q.stop()


def test_snapshot_datasource_stream_survives_expire(spark, store, tmp_path):
    """The streaming tail's delta must not re-deliver parent rows when
    expire() removes the previously-consumed version between batches:
    'already delivered' seeds from the newest SURVIVING manifest at or
    below the committed offset."""
    from etlp_spark.connectors.snapshot_datasource import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)
    store.write(_df(spark, [1, 2]))  # v1
    stream = (
        spark.readStream.format("etlp-snapshots")
        .option("root", store.root)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("snap_exp")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_exp"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(r.id for r in spark.sql("select * from snap_exp").collect()) == [1, 2]
        # Consume v2 FIRST (processAllAvailable blocks until the offset
        # is committed, pinning it at 2 deterministically), THEN write
        # v3 and expire v1 — the old delta logic would re-deliver 1,2.
        store.write(_df(spark, [3]), mode="append")  # v2
        q.processAllAvailable()  # committed offset is now exactly 2
        store.write(_df(spark, [4]), mode="append")  # v3
        store.expire(keep_last=2)  # drops v1's manifest; v2 survives
        q.processAllAvailable()
        got = [r.id for r in spark.sql("select * from snap_exp").collect()]
        assert sorted(got) == [1, 2, 3, 4]
        assert got.count(1) == 1 and got.count(2) == 1  # no re-delivery
    finally:
        q.stop()


def test_snapshot_stream_delta_seeding_unit(spark, store):
    """Pin the seeding semantics directly on _SnapshotStreamReader
    .partitions (no stream timing involved): with v1 expired, a
    committed offset of 2 seeds 'delivered' from v2's surviving
    manifest (delta = v3's new files only), while a committed offset
    of 1 — below every surviving manifest — must FAIL LOUDLY rather
    than silently re-deliver everything as new."""
    import pytest

    from etlp_spark.connectors.snapshot_datasource import _SnapshotStreamReader

    store.write(_df(spark, [1, 2]))  # v1
    store.write(_df(spark, [3]), mode="append")  # v2
    store.write(_df(spark, [4]), mode="append")  # v3
    v2_files = set(store.manifest(2)["files"])
    v3_files = set(store.manifest(3)["files"])
    store.expire(keep_last=2)  # drops v1's manifest; files survive via v2/v3

    reader = _SnapshotStreamReader(store.read(spark).schema, {"root": store.root})
    parts = reader.partitions({"version": 2}, {"version": 3})
    assert {p.path for p in parts} == v3_files - v2_files  # delta only

    with pytest.raises(RuntimeError, match="retention dropped every manifest"):
        reader.partitions({"version": 1}, {"version": 3})


@pytest.mark.parametrize("proto_name", ["link", "conditional_put"])
def test_streaming_exactly_once_across_restart_both_protocols(
    spark, tmp_path, proto_name
):
    """VERDICT r6 #7: the exactly-once streaming path (file stream ->
    foreachBatch -> write_batch, checkpointed) exercised under BOTH
    commit protocols — the POSIX link(2) default AND the object-store
    ConditionalPutCommitProtocol (O_CREAT|O_EXCL standing in for
    S3 If-None-Match / GCS if_generation_match=0). The query is
    STOPPED and RESTARTED from the same checkpoint between batches,
    and a batch replay is forced explicitly: committed data must not
    duplicate under either protocol."""
    import json as _json

    from etlp_spark.connectors.snapshots import (
        ConditionalPutCommitProtocol,
        LinkCommitProtocol,
    )
    from etlp_spark.streaming import file_stream

    if proto_name == "link":
        proto = LinkCommitProtocol()
    else:
        def put_if_absent(key: str, payload: bytes) -> bool:
            try:
                fd = os.open(key, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            with os.fdopen(fd, "wb") as fh:
                fh.write(payload)
            return True

        proto = ConditionalPutCommitProtocol(put_if_absent)

    store = SnapshotStore(str(tmp_path / "tbl"), commit_protocol=proto)
    indir = tmp_path / "in"
    indir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def _run_until_drained():
        src = file_stream(spark, str(indir), "id long, val string", fmt="json")
        q = (
            src.writeStream.foreachBatch(
                lambda df, bid: store.write_batch(df, bid) and None
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    (indir / "b1.jsonl").write_text(
        "\n".join(_json.dumps({"id": i, "val": f"r{i}"}) for i in (1, 2))
    )
    _run_until_drained()
    # restart from the same checkpoint with new data
    (indir / "b2.jsonl").write_text(_json.dumps({"id": 3, "val": "r3"}))
    _run_until_drained()
    assert sorted(r.id for r in store.read(spark).collect()) == [1, 2, 3]
    assert store.committed_batch_ids() == {0, 1}
    # forced replay of batch 0 (what a crash between sink commit and
    # checkpoint advance produces): idempotent under this protocol
    store.write_batch(_df(spark, [1, 2]), 0)
    assert sorted(r.id for r in store.read(spark).collect()) == [1, 2, 3]


def test_merge_upsert_copy_on_write(spark, store):
    """MERGE (upsert by key): matched keys are replaced wholesale,
    unmatched keys insert, and only the data files that CONTAIN a
    matched key are rewritten — untouched files carry into the new
    manifest by reference (zero bytes moved), the Delta-style
    copy-on-write shape. Time travel still sees pre-merge rows."""
    # two single-file versions so file-granular CoW is observable
    store.write(_df(spark, [1, 2]).coalesce(1))
    store.write(_df(spark, [3, 4]).coalesce(1), mode="append")
    m2 = store.manifest(2)
    assert len(m2["files"]) == 2

    upd = spark.createDataFrame([(3, "NEW"), (9, "r9")], ["id", "val"])
    res = store.merge(upd, ["id"])
    assert res.extra["files_rewritten"] == 1   # only the file holding id=3
    assert res.extra["files_carried"] == 1     # the [1,2] file untouched
    m3 = store.manifest(3)
    assert m3["mode"] == "merge" and m3["n_rows"] == 5
    got = {r.id: r.val for r in store.read(spark).collect()}
    assert got == {1: "r1", 2: "r2", 3: "NEW", 4: "r4", 9: "r9"}
    # the carried file is literally the same path as in the parent
    assert set(m2["files"]) & set(m3["files"])
    # time travel: version 2 still shows the pre-merge value
    assert {r.id: r.val for r in store.read(spark, 2).collect()}[3] == "r3"

    # merge with NO matched keys rewrites nothing
    res2 = store.merge(spark.createDataFrame([(50, "x")], ["id", "val"]), ["id"])
    assert res2.extra["files_rewritten"] == 0
    assert store.manifest(4)["n_rows"] == 6

    # merge into an empty store degrades to a snapshot write
    from etlp_spark.connectors.snapshots import SnapshotStore
    import os as _os
    fresh = SnapshotStore(str(_os.path.join(store.root, "..", "fresh")))
    fresh.merge(_df(spark, [7]), ["id"])
    assert [r.id for r in fresh.read(spark).collect()] == [7]

    # schema mismatch is loud
    with pytest.raises(ValueError, match="merge schema mismatch"):
        store.merge(spark.createDataFrame([(1,)], ["id"]), ["id"])


def test_compact_preserves_rows_and_history(spark, store):
    """Compaction: a long append chain's many part-files rewrite into
    one coalesced file set committed as a new version — identical
    rows, n_rows carried exactly, prior versions' file references
    (and expire's shared-file accounting) intact."""
    for ids in ([1, 2], [3], [4], [5]):
        store.write(_df(spark, ids).coalesce(2), mode="append")
    before = store.manifest(store.latest_version())
    assert len(before["files"]) >= 4

    res = store.compact(spark)
    assert res.extra["files_after"] == 1
    assert res.extra["files_before"] == len(before["files"])
    m = store.manifest(store.latest_version())
    assert m["mode"] == "compact" and m["n_rows"] == 5
    assert sorted(r.id for r in store.read(spark).collect()) == [1, 2, 3, 4, 5]
    # pre-compaction version still readable (old files referenced)
    assert sorted(r.id for r in store.read(spark, 4).collect()) == [1, 2, 3, 4, 5]
    # expire to just the compacted version sweeps the small files
    store.expire(keep_last=1)
    assert store.versions() == [5]
    assert sorted(r.id for r in store.read(spark).collect()) == [1, 2, 3, 4, 5]


def test_merge_with_relative_and_symlinked_root(spark, tmp_path):
    """ADVICE r7: merge compares manifest file strings against
    ``input_file_name()`` paths — Spark always reports absolute,
    symlink-opaque URIs, so a RELATIVE store root (manifest strings
    relative) or a symlinked root used to make every key-matching
    merge die with 'files outside the manifest'. Both sides now
    normalize through realpath(abspath(...)) before comparing, and
    the new manifest keeps the parent's (relative) string style."""
    # relative root: relative to the driver cwd (= JVM user.dir here)
    rel = os.path.relpath(str(tmp_path / "rel_tbl"), os.getcwd())
    assert not os.path.isabs(rel)
    st = SnapshotStore(rel)
    st.write(_df(spark, [1, 2]).coalesce(1))
    st.merge(spark.createDataFrame([(2, "NEW"), (9, "r9")], ["id", "val"]), ["id"])
    got = {r.id: r.val for r in st.read(spark).collect()}
    assert got == {1: "r1", 2: "NEW", 9: "r9"}
    # manifest strings stay relative — style consistent with parent
    assert all(not os.path.isabs(f) for f in st.manifest(2)["files"])

    # symlinked root: manifest holds link-path strings, Spark may
    # report the real path — normalization makes them compare equal
    real = tmp_path / "real_tbl"
    real.mkdir()
    link = tmp_path / "link_tbl"
    os.symlink(str(real), str(link))
    st2 = SnapshotStore(str(link))
    st2.write(_df(spark, [1, 2]).coalesce(1))
    st2.merge(spark.createDataFrame([(1, "X")], ["id", "val"]), ["id"])
    assert {r.id: r.val for r in st2.read(spark).collect()} == {1: "X", 2: "r2"}


def test_zone_map_stats_and_pruned_reads(spark, tmp_path):
    """Manifest zone maps (x102's audit turned into the table format):
    a write with stats_cols records per-file [min, max]; read_pruned
    plans over ONLY files whose zone can match the range (correct
    rows, fewer files); appends inherit the parent's stats_cols and
    stay prunable; merge recomputes stats for rewritten files only;
    files lacking stats are read (safe); disjoint ranges read zero
    files but keep the schema."""
    store = SnapshotStore(str(tmp_path / "zt"))
    df = spark.range(0, 1000).selectExpr("id", "id % 7 AS grp")
    # sort by id then split into 4 files -> tight, disjoint id zones
    store.write(df.repartitionByRange(4, "id"), stats_cols=("id",))
    m1 = store.manifest(1)
    assert m1["stats_cols"] == ["id"] and len(m1["stats"]) == len(m1["files"])

    out, info = store.read_pruned(spark, {"id": (100, 120)})
    assert sorted(r.id for r in out.collect()) == list(range(100, 121))
    assert info["files_read"] < info["files_total"]

    # append inherits stats_cols; the chain stays prunable
    store.write(
        spark.range(5000, 5500).selectExpr("id", "id % 7 AS grp").coalesce(1),
        mode="append",
    )
    out2, info2 = store.read_pruned(spark, {"id": (5400, None)})
    assert sorted(r.id for r in out2.collect()) == list(range(5400, 5500))
    assert info2["files_read"] == 1 and info2["files_total"] == 5

    # disjoint range: zero files read, schema intact, zero rows
    out3, info3 = store.read_pruned(spark, {"id": (99999, None)})
    assert info3["files_read"] == 0 and out3.count() == 0
    assert out3.columns == ["id", "grp"]

    # merge rewrites only hit files and recomputes just their stats
    # (built from range() so nullability matches the parent schema)
    upd = spark.range(150, 151).selectExpr("id", "id % 7 + 997 AS grp")
    store.merge(upd, ["id"])
    m3 = store.manifest(3)
    assert m3["stats_cols"] == ["id"]
    assert len(m3["stats"]) == len(m3["files"])
    out4, _ = store.read_pruned(spark, {"id": (150, 150)})
    assert [(r.id, r.grp) for r in out4.collect()] == [(150, 150 % 7 + 997)]

    # a store written WITHOUT stats prunes nothing but stays correct
    plain = SnapshotStore(str(tmp_path / "plain"))
    plain.write(df.repartitionByRange(4, "id"))
    out5, info5 = plain.read_pruned(spark, {"id": (0, 10)})
    assert info5["files_read"] == info5["files_total"]
    assert out5.count() == 11


def test_snapshot_sink_declarative_stats_cols(spark, tmp_path):
    """Zone maps as config vocabulary: a snapshot sink built with
    stats_cols records per-file [min, max] in the manifest."""
    sink = SnapshotSink(str(tmp_path / "cfg_zt"), stats_cols=["id"])
    sink.write(_df(spark, [1, 2, 3]).coalesce(1))
    st = SnapshotStore(str(tmp_path / "cfg_zt"))
    m = st.manifest(1)
    assert m["stats_cols"] == ["id"]
    (fstats,) = m["stats"].values()
    assert fstats["id"] == [1, 3]


def test_zorder_sort_tightens_zone_maps_on_both_dims(spark, tmp_path):
    """functions/layout.py closing the loop with the store's zone
    maps: the SAME data written three ways (unsorted, sorted by a,
    z-ordered on (a, b)) and range-read through read_pruned. The
    z-ordered layout must prune files on BOTH single-dim ranges
    (plain sort only prunes its own column) and return exactly the
    rows a full-scan filter yields."""
    from etlp_spark.functions.layout import zorder_sort

    df = spark.range(0, 4096).selectExpr(
        "id", "id % 64 AS a", "id div 64 AS b"
    )
    stores = {}
    for name, frame in (
        ("linear", df.repartition(16)),
        ("sorted_a", df.repartitionByRange(16, "a")),
        ("zorder", zorder_sort(df, ("a", "b"), num_files=16)),
    ):
        st = SnapshotStore(str(tmp_path / name))
        st.write(frame, stats_cols=("a", "b"))
        stores[name] = st

    def frac(st, ranges):
        _, info = st.read_pruned(spark, ranges)
        return info["files_read"] / info["files_total"]

    ra, rb = {"a": (10, 20)}, {"b": (10, 20)}
    # plain sort: perfect on a, useless on b; z-order: prunes on both
    assert frac(stores["sorted_a"], ra) < 0.5
    assert frac(stores["sorted_a"], rb) == 1.0
    assert frac(stores["zorder"], ra) < 1.0
    assert frac(stores["zorder"], rb) < 1.0
    assert frac(stores["linear"], ra) == 1.0

    # correctness: pruned read == full-scan filter, on every layout
    from pyspark.sql import functions as F

    want = sorted(
        r.id for r in df.where(F.col("a").between(10, 20)).collect()
    )
    for st in stores.values():
        out, _ = st.read_pruned(spark, ra)
        assert sorted(r.id for r in out.collect()) == want


def test_append_schema_evolution_additive_only(spark, store):
    """Delta-style additive schema evolution: append with evolve=True
    may ADD nullable columns — the manifest adopts the wider schema,
    reads return NULL for the new column on pre-evolution rows, time
    travel still shows v1 with the original schema; non-additive
    changes (type change, dropped column, non-nullable addition) stay
    loud errors; without evolve=True the mismatch error now hints."""
    store.write(_df(spark, [1, 2]))
    wider = spark.createDataFrame(
        [(3, "r3", 7.5)], "id long, val string, score double"
    )
    with pytest.raises(ValueError, match="evolve=True"):
        store.write(wider, mode="append")
    store.write(wider, mode="append", evolve=True)
    got = {r.id: (r.val, r.score) for r in store.read(spark).collect()}
    assert got == {1: ("r1", None), 2: ("r2", None), 3: ("r3", 7.5)}
    # time travel: v1 keeps its own (narrow) schema
    assert store.read(spark, 1).columns == ["id", "val"]

    # dropped column is NOT additive
    with pytest.raises(ValueError, match="append schema mismatch"):
        store.write(
            spark.createDataFrame([(9,)], "id long"), mode="append", evolve=True
        )
    # type change is NOT additive
    with pytest.raises(ValueError, match="append schema mismatch"):
        store.write(
            spark.createDataFrame([("x", "v", 1.0)],
                                  "id string, val string, score double"),
            mode="append", evolve=True,
        )
    # narrowing nullable -> required is NOT additive (old files may
    # hold nulls the manifest would then deny)
    with pytest.raises(ValueError, match="append schema mismatch"):
        store.write(
            spark.createDataFrame(
                [(9, "r9", 2.0)], "id long, val string not null, score double"
            ),
            mode="append", evolve=True,
        )
    # further appends with the evolved schema are plain appends
    store.write(
        spark.createDataFrame([(4, "r4", 1.25)],
                              "id long, val string, score double"),
        mode="append",
    )
    assert store.read(spark).count() == 4


def test_merge_and_compact_after_schema_evolution(spark, store):
    """ADVICE r8 (high): merge() and compact() used to read the
    parent's file set schema-LESS — after an evolve=True append the
    file set mixes schemas, and inferring from a pre-evolution file
    silently rewrote the table WITHOUT the evolved column (the
    manifest keeps claiming it, so reads null-fill forever: permanent
    undetected data loss). Every rewrite path now reads through the
    manifest schema (_reader)."""
    store.write(_df(spark, [1, 2]).coalesce(1))
    wider = spark.createDataFrame(
        [(3, "r3", 7.5)], "id long, val string, score double"
    )
    store.write(wider.coalesce(1), mode="append", evolve=True)

    # compact after evolution: the evolved column's VALUES must survive
    store.compact(spark)
    got = {r.id: (r.val, r.score) for r in store.read(spark).collect()}
    assert got == {1: ("r1", None), 2: ("r2", None), 3: ("r3", 7.5)}

    # rebuild the mixed-schema state and merge a key living in a
    # PRE-evolution file: survivors read under the wide schema
    store2 = SnapshotStore(str(os.path.join(store.root, "..", "tbl2")))
    store2.write(_df(spark, [1, 2]).coalesce(1))
    store2.write(wider.coalesce(1), mode="append", evolve=True)
    upd = spark.createDataFrame(
        [(1, "NEW", 9.0)], "id long, val string, score double"
    )
    store2.merge(upd, ["id"])
    got2 = {r.id: (r.val, r.score) for r in store2.read(spark).collect()}
    assert got2 == {1: ("NEW", 9.0), 2: ("r2", None), 3: ("r3", 7.5)}


def test_read_pruned_native_typed_stats(spark, tmp_path):
    """ADVICE r8 (medium): zone stats stringify non-JSON-native values
    (timestamps, Decimals) while callers pass native bounds — raw
    Python comparison raised TypeError, and aligned types could
    compare lexicographically. Pruning now normalizes both sides and
    degrades to may-match when undecidable, so: (a) datetime bounds
    prune on a timestamp column (str() forms are fixed-width, so the
    string compare is order-correct), (b) Decimal stats compare
    NUMERICALLY (str() of 9.5 vs 10.2 would mis-order), (c) rows are
    always exactly the full-scan filter's."""
    import datetime
    from decimal import Decimal

    st = SnapshotStore(str(tmp_path / "ts_tbl"))
    df = spark.range(0, 128).selectExpr(
        "id",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts",
        "CAST(id AS DECIMAL(12,2)) / 10 AS amt",
    )
    st.write(df.repartitionByRange(4, "id"), stats_cols=("ts", "amt", "id"))

    lo = datetime.datetime(2024, 1, 3, 2, 0, 0)
    out, info = st.read_pruned(spark, {"ts": (lo, None)})
    want = df.where(f"ts >= timestamp'{lo}'")
    assert sorted(r.id for r in out.collect()) == sorted(
        r.id for r in want.collect()
    )
    assert info["files_read"] < info["files_total"]

    # Decimal bounds: amts span 0.0–12.7, so the top file's zone max
    # "12.7" < "9.6" LEXICOGRAPHICALLY — a string compare would
    # wrongly prune the only matching file; numeric parse keeps it
    out2, info2 = st.read_pruned(spark, {"amt": (Decimal("9.6"), None)})
    assert sorted(r.id for r in out2.collect()) == list(range(96, 128))
    assert 0 < info2["files_read"] < info2["files_total"]

    # undecidable mix (native int stats vs a string bound): never
    # raises, never prunes — reads everything it cannot disprove
    out3, info3 = st.read_pruned(spark, {"id": ("zzz", None)})
    assert info3["files_read"] == info3["files_total"]


def test_norm_file_keeps_object_store_uris(spark):
    """ADVICE r8 (low): _file_stats/merge used to pre-strip URIs with
    urlparse().path before _norm_file, localizing s3a://bucket/... to
    /bucket/... and breaking the manifest lookup for any non-local
    root. The raw URI now flows to _norm_file, which keeps
    scheme+netloc for non-file schemes — a round trip through it is
    stable, so manifest-string and Spark-reported forms meet."""
    from etlp_spark.connectors.snapshots import _norm_file

    s3 = "s3a://bucket/tbl/data/v00001-ab/part-0.parquet"
    assert _norm_file(s3) == s3
    assert _norm_file(_norm_file(s3)) == _norm_file(s3)
    # percent-encoded path unquotes once and is then stable
    enc = "s3a://bucket/tbl/data/v%2000001/part-0.parquet"
    assert _norm_file(enc) == "s3a://bucket/tbl/data/v 00001/part-0.parquet"
    # file scheme still normalizes to a local realpath
    assert os.path.isabs(_norm_file("file:///tmp/x.parquet"))


def test_read_increment_and_incremental_aggregate(spark, store):
    """Incremental scan along an append chain: read_increment returns
    exactly the delta rows, and an aggregate MAINTAINED by folding
    per-increment aggregates equals the full recompute — the pattern
    that turns a 100 TB-per-version rescan into a delta-sized job."""
    from pyspark.sql import functions as F

    def grp(df):
        return {
            r.g: (r.n, r.s)
            for r in df.groupBy((F.col("id") % 2).alias("g"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
            .collect()
        }

    store.write(_df(spark, [1, 2, 3]))
    store.write(_df(spark, [10, 11]), mode="append")
    store.write(_df(spark, [20]), mode="append")

    inc12 = store.read_increment(spark, 1, 2)
    assert sorted(r.id for r in inc12.collect()) == [10, 11]
    inc13 = store.read_increment(spark, 1, 3)
    assert sorted(r.id for r in inc13.collect()) == [10, 11, 20]
    # same version → empty increment with the right schema
    assert store.read_increment(spark, 2, 2).count() == 0

    # incremental aggregate maintenance: v1 agg + delta aggs == full
    maintained = grp(store.read(spark, 1))
    for lo, hi in ((1, 2), (2, 3)):
        for g, (n, s) in grp(store.read_increment(spark, lo, hi)).items():
            on, os_ = maintained.get(g, (0, 0))
            maintained[g] = (on + n, os_ + s)
    assert maintained == grp(store.read(spark, 3))


def test_read_increment_refuses_rewrite_chains(spark, store):
    """After a rewrite (merge/compact/snapshot), file-level increments
    stop meaning row-level deltas — the API must refuse loudly and
    point at diff()."""
    store.write(_df(spark, [1, 2, 3]))
    store.merge(_df(spark, [2, 9]), key_cols=["id"])
    with pytest.raises(ValueError, match="append chain"):
        store.read_increment(spark, 1, 2)


def test_manifest_properties_recorded_and_append_inherited(spark, store):
    """write(properties=): JSON-native key/values land verbatim in
    the version's manifest; appends, merges and compactions INHERIT
    the parent's properties (appends overlaid by their own);
    snapshots carry only what they pass; a property-less write
    records no key at all (the r14 IVF occupancy diagnostics ride
    this — Iceberg-style snapshot properties)."""
    store.write(_df(spark, [1, 2]), properties={"owner": "pipe-a", "k": 4})
    m1 = store.manifest(1)
    assert m1["properties"] == {"owner": "pipe-a", "k": 4}

    # append inherits + overlays
    store.write(_df(spark, [3]), mode="append", properties={"k": 8})
    m2 = store.manifest(2)
    assert m2["properties"] == {"owner": "pipe-a", "k": 8}

    # append with none passes the parent's through unchanged
    store.write(_df(spark, [4]), mode="append")
    assert store.manifest(3)["properties"] == {"owner": "pipe-a", "k": 8}

    # merge and compact rewrite data, not the table's identity
    store.merge(_df(spark, [4, 5]), key_cols=["id"])
    assert store.manifest(4)["properties"] == {"owner": "pipe-a", "k": 8}
    store.compact(spark)
    assert store.manifest(5)["properties"] == {"owner": "pipe-a", "k": 8}

    # a fresh SNAPSHOT does not inherit (it replaces the table)
    store.write(_df(spark, [9]))
    assert "properties" not in store.manifest(6)
