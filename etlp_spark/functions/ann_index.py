"""Persisted ANN index artifacts — IVF centroid tables and PQ
codebooks stored as versioned :class:`SnapshotStore` tables.

At 100 TB you train the coarse quantizer ONCE (on a sample) and ship
the index: every later query loads the centroid table (k x dims
doubles — kilobytes) instead of re-scanning the corpus ``2*iters + 2``
times per run. The store is the engine's own SnapshotStore, so index
artifacts get the same lifecycle as data tables for free — versioned,
time-travelable, atomically published (a re-train is a NEW version; a
reader pinned to v0 keeps bit-identical results forever; a racing
double-train raises ``ConcurrentWriteError`` instead of clobbering).

Determinism round-trip: ``ivf_train``'s centroids are a pure function
of their input (quantized-int64 means, functions/similarity.py), and
parquet FLOAT8 is an exact IEEE-754 round-trip, so persist-then-load
reproduces the in-run index bit-for-bit — which keeps the persisted
search path fully ORACLE-ABLE (x137 trains, persists, reloads and
searches; the DuckDB oracle replays training via x12's CTE chain and
every distance agrees exactly).

Reference: engine-added lifecycle (SURVEY.md §2.2 similarity family);
aregee/etlp pipelines are stateless streams with no model artifacts
(src/etlp/core.clj — no persisted state beyond connector configs).
"""

from __future__ import annotations

from pyspark.sql import Row, SparkSession

from etlp_spark.connectors.snapshots import CommitProtocol, SnapshotStore

__all__ = [
    "save_ivf_centroids",
    "load_ivf_centroids",
    "save_pq_codebooks",
    "load_pq_codebooks",
    "ensure_ivf_index",
    "ensure_pq_codebooks",
]

_CENTROID_SCHEMA = "cell INT NOT NULL, centroid ARRAY<DOUBLE> NOT NULL"
_CODEBOOK_SCHEMA = (
    "book INT NOT NULL, code INT NOT NULL, centroid ARRAY<DOUBLE> NOT NULL"
)


def save_ivf_centroids(
    spark: SparkSession,
    root: str,
    centroids: list[list[float]],
    *,
    commit_protocol: CommitProtocol | None = None,
    properties: "dict | None" = None,
) -> int:
    """Persist a trained IVF centroid table as a new snapshot version.

    Rows are (cell, centroid). No zone-map stats are recorded: the
    table is MODEL-sized (k rows, one file) — the store's value here
    is the versioned atomic publish, and a stats pass would spend a
    whole Spark job computing min/max over 8 rows. ``properties``
    (JSON-native) are recorded verbatim in the version's manifest —
    ``ensure_ivf_index`` uses this for its train-time occupancy
    diagnostics. Returns the committed version number.
    """
    if not centroids:
        raise ValueError("cannot persist an empty centroid table")
    dims = len(centroids[0])
    if any(len(c) != dims for c in centroids):
        raise ValueError("all centroids must share one dimensionality")
    df = spark.createDataFrame(
        [Row(cell=i, centroid=[float(x) for x in c]) for i, c in enumerate(centroids)],
        schema=_CENTROID_SCHEMA,
    ).coalesce(1)  # k rows — one file keeps the manifest minimal
    store = SnapshotStore(root, commit_protocol=commit_protocol)
    res = store.write(df, mode="snapshot", properties=properties)
    return int(res.extra["version"])


def load_ivf_centroids(
    spark: SparkSession, root: str, version: int | None = None
) -> list[list[float]]:
    """Time-travel load of a persisted centroid table (default:
    latest version) back into the literal-list form every consumer
    (``ivf_assign`` / ``ivf_search`` / ADC) takes. The collect is
    bounded by the MODEL size (k rows), never the corpus."""
    store = SnapshotStore(root)
    rows = store.read(spark, version).orderBy("cell").collect()
    cells = [r["cell"] for r in rows]
    if cells != list(range(len(rows))):
        raise ValueError(
            f"centroid table at {root} v{version} is not contiguous cells "
            f"0..k-1 (got {cells[:10]}...) — corrupt or not an IVF index"
        )
    return [[float(x) for x in r["centroid"]] for r in rows]


def save_pq_codebooks(
    spark: SparkSession,
    root: str,
    codebooks: list[list[list[float]]],
    *,
    commit_protocol: CommitProtocol | None = None,
) -> int:
    """Persist PQ codebooks (one sub-quantizer per subspace) as a new
    snapshot version: rows are (book, code, centroid). Books may have
    different subdims (matryoshka-style splits) but centroids within
    one book must agree — the same invariant ``pq_codes`` enforces."""
    if not codebooks or any(not b for b in codebooks):
        raise ValueError("cannot persist empty codebooks")
    rows = []
    for s, book in enumerate(codebooks):
        subdim = len(book[0])
        if any(len(c) != subdim for c in book):
            raise ValueError(f"codebook {s} has centroids of mixed dims")
        rows += [
            Row(book=s, code=c, centroid=[float(x) for x in cent])
            for c, cent in enumerate(book)
        ]
    df = spark.createDataFrame(rows, schema=_CODEBOOK_SCHEMA).coalesce(1)
    store = SnapshotStore(root, commit_protocol=commit_protocol)
    res = store.write(df, mode="snapshot")
    return int(res.extra["version"])


def load_pq_codebooks(
    spark: SparkSession, root: str, version: int | None = None
) -> list[list[list[float]]]:
    """Load persisted PQ codebooks (default: latest) back into the
    ``list[book][code][dim]`` form ``pq_codes``/``pq_adc_topk`` take.
    Bounded by model size (m x k rows)."""
    store = SnapshotStore(root)
    rows = store.read(spark, version).orderBy("book", "code").collect()
    books: list[list[list[float]]] = []
    for r in rows:
        if r["book"] == len(books):
            books.append([])
        if r["book"] != len(books) - 1 or r["code"] != len(books[-1]):
            raise ValueError(
                f"codebook table at {root} v{version} is not contiguous "
                "(book, code) — corrupt or not a PQ index"
            )
        books[-1].append([float(x) for x in r["centroid"]])
    if not books:
        raise ValueError(f"codebook table at {root} v{version} is empty")
    return books


def _ensure(spark, root, train, save, load):
    """Train-once discipline: if the store already holds a version,
    LOAD it and never call ``train``; otherwise train, publish, and
    return the STORED form (so callers always consume the artifact
    path, never the in-memory one). A racing trainer that loses the
    exclusive publish loads the winner's version — both racers end
    up on the same index, which is the whole point of versioning."""
    from etlp_spark.connectors.snapshots import ConcurrentWriteError

    if SnapshotStore(root).latest_version() is not None:
        return load(spark, root)
    model = train()
    try:
        save(spark, root, model)
    except ConcurrentWriteError:
        pass  # a concurrent trainer won — same input, same model
    return load(spark, root)


#: Occupancy-warning threshold factor: warn when the fattest cell
#: holds more than this many times its fair share (1/k) of the
#: corpus. The r13 mixture-of-Gaussians probe-skew study measured a
#: genuinely imbalanced corpus at k=8 putting 38.9% of vectors in one
#: cell (3.1x fair share, worst-case probe scans 51.3% of the
#: corpus), while k=32 collapsed the top share to 13.8% (4.4x of a
#: much smaller fair share but only 1/7th the absolute scan) — the
#: measured remedy is centroid-count scaling (k ~ sqrt(N)), NOT
#: ingest-time cell salting. 3.0x flags the k=8 shape without
#: tripping on healthy mild skew (SCALE_BENCH_r13_mog.json).
IVF_TOP_SHARE_FACTOR = 3.0


def ensure_ivf_index(
    spark: SparkSession,
    root: str,
    train,
    *,
    corpus: "DataFrame | None" = None,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Load the centroid table at ``root`` if one is published, else
    call ``train()`` (a zero-arg callable returning centroids),
    publish, and load — the at-most-one-training lifecycle a 100 TB
    deployment runs: queries name the index root; only the first
    ever run (or an explicit re-train to a new root/version) pays
    the training scans. Keying the root by corpus identity + trainer
    version is the CALLER's contract — a stale root silently serves
    the old index, which is exactly the version-pinning feature, but
    only if the key says what the index was built from.

    When ``corpus`` is given AND this call is the one that trains,
    one extra assignment scan records occupancy diagnostics in the
    published version's manifest (``properties``): ``ivf_k``,
    ``ivf_n_vectors``, ``ivf_top_cell_share`` (fattest cell's corpus
    fraction), and ``ivf_top_share_factor`` (share * k — 1.0 is
    perfectly balanced). A factor above ``IVF_TOP_SHARE_FACTOR``
    additionally emits a UserWarning naming the measured remedy
    (train with more centroids, k ~ sqrt(N)) — the r13 MoG study's
    conclusion, moved from prose into the artifact so a stale or
    skewed index explains itself. The load path never re-scans:
    diagnostics are train-time-only, and gated queries that omit
    ``corpus`` are byte-identical to before.

    Lifecycle (load-if-published / train / publish / lose-the-race →
    load winner) is ``_ensure``'s, shared with ``ensure_pq_codebooks``
    — the diagnostics ride in through a wrapped save callable, so a
    fix to the lifecycle propagates to both index types."""

    def _save_with_diagnostics(spark_, root_, model):
        properties = (
            _ivf_occupancy_properties(root_, corpus, vec_col, model)
            if corpus is not None and model
            else None
        )
        save_ivf_centroids(spark_, root_, model, properties=properties)

    return _ensure(
        spark, root, train, _save_with_diagnostics, load_ivf_centroids
    )


def _ivf_occupancy_properties(root, corpus, vec_col, model):
    """Train-time-only occupancy scan: one argmin assignment against
    the literal centroids, then a k-row aggregate — no corpus
    shuffle, no collect beyond k rows. Returns the manifest
    ``properties`` dict (or None on an empty corpus) and emits the
    skew UserWarning above ``IVF_TOP_SHARE_FACTOR``."""
    from pyspark.sql import functions as F

    from etlp_spark.functions.similarity import ivf_assign

    k = len(model)
    counts = (
        ivf_assign(
            corpus.select(F.lit(0).alias("__id"), vec_col),
            model, id_col="__id", vec_col=vec_col,
        )
        .groupBy("cell").count().collect()
    )
    total = sum(r["count"] for r in counts)
    top = max((r["count"] for r in counts), default=0)
    if not total:
        return None
    share = top / total
    factor = share * k
    if factor > IVF_TOP_SHARE_FACTOR:
        import warnings

        warnings.warn(
            f"IVF index at {root}: fattest cell holds "
            f"{share:.1%} of {total} vectors ({factor:.1f}x "
            f"fair share at k={k}, threshold "
            f"{IVF_TOP_SHARE_FACTOR}x). Worst-case probes "
            "scan that whole cell; the measured remedy is "
            "MORE CENTROIDS (k ~ sqrt(N)), not cell salting "
            "(SCALE_BENCH_r13_mog).",
            stacklevel=3,
        )
    return {
        "ivf_k": k,
        "ivf_n_vectors": total,
        "ivf_top_cell_share": round(share, 4),
        "ivf_top_share_factor": round(factor, 2),
    }


def ensure_pq_codebooks(
    spark: SparkSession, root: str, train
) -> list[list[list[float]]]:
    """``ensure_ivf_index`` for PQ codebooks."""
    return _ensure(spark, root, train, save_pq_codebooks, load_pq_codebooks)
