"""One commit-protocol sink for the growing ``table/batch=<id>``
indexes, on the shared fsio commit protocol.

Six stream families grow an index this way: the banded LSH index
(``minhash_stream``), BM25 postings (``lexical_stream``), Naive Bayes
count deltas (``classify_stream``), logistic-regression states
(``linear_stream``), embedding band postings (``semantic_stream``)
and exact prefix postings (``ssjoin_stream``). Each persists one
``<table>/batch=<id>`` directory per table, committed by a
``_batch_<id>`` marker, and periodically folds committed batches into
a negative GENERATION partition via the journaled, rename-free
cutover documented in ``fsio``.

A family is described by its LAYOUT — ``{table: cluster spec}``,
first table the probe table — plus the work it does per micro-batch.
:func:`batched_sink` owns every protocol step around that work
(redelivery short-circuit, legacy stamp, crash recovery, the marker,
the auto-compaction trigger) and :func:`compact_batched_index` owns
the cutover, so the crash-window guarantees the LSH suite locks down
hold for every family from one implementation.
"""

from __future__ import annotations

from .fsio import (
    MARKER,
    IndexFS,
    committed_batch_ids,
    count_committed_files,
    drop_stale_generations,
    ensure_protocol,
    legacy_overlay_ids,
    next_generation,
    recover_compaction,
    retire_real_markers,
    write_journal,
)

__all__ = [
    "batched_sink",
    "make_delete_batches",
    "committed_table_dirs",
    "served_table_dirs",
    "compact_batched_index",
    "spread_batch",
    "parallel_writes",
]

# files per table in a compacted generation
COMPACT_BUCKETS = 1
# real batch markers kept behind the newest one (fsio.retire_real_markers)
MARKER_HORIZON = 1000


def parallel_writes(*thunks) -> None:
    """Run INDEPENDENT write jobs concurrently from a small driver
    thread pool (guide-§2.6 job overlap: the scheduler back-fills
    idle cores with the next job's tasks while the current one drains
    its tail), joining every thunk — and re-raising the first
    failure — before returning, so a commit marker written after this
    call still lands after ALL of the writes.

    MEASURED CAVEAT (r14): use this only when at most one thunk
    carries a non-trivial plan. Overlapping several medium-sized
    FIRST-RUN writes convoys on plan compilation (the streaming index
    maintainers measured 62 -> 80 s of cold first-run wall across the
    family when their 3 per-trigger table writes were overlapped —
    reverted; warm runs were a wash). The surviving user is
    ann_index.build_index, whose shape is one heavy cells write plus
    two trivial side-table writes: there the tiny jobs back-fill the
    big write's tail and the cold lifecycle measured faster
    (autocompact 13.0 -> 10.9, auto_retrain 12.8 -> 11.2 in the
    single-pass sweep)."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        for f in futures:
            f.result()


def spread_batch(bdf):
    """Spread a micro-batch across the drain's shuffle parallelism
    before per-row-heavy signing/tokenizing work.

    ``availableNow`` file sources with ``maxFilesPerTrigger=1``
    deliver each micro-batch as ONE input partition, which serializes
    the expensive per-document column work (MD5 shingle hashing,
    tokenization) onto a single core — measured 4.1 s -> 1.9 s on a
    2.5K-doc batch at sf0.1 (round 10). Values are per-row column
    expressions, so repartitioning cannot change any result. On a
    real cluster a large micro-batch already arrives as many
    partitions and this is a no-op."""
    try:
        target = int(bdf.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # some distributions allow non-numeric values here ("auto");
        # fall back rather than fail every micro-batch of the drain
        target = bdf.sparkSession.sparkContext.defaultParallelism
    if bdf.rdd.getNumPartitions() >= target:
        return bdf
    return bdf.repartition(target)


def make_delete_batches(tables: tuple[str, ...]):
    """The shared protocol's layout callback: batch ``b``'s data is
    one ``<table>/batch=<b>`` directory per table."""
    def _delete(fs: IndexFS, bs: list[str]) -> None:
        for table in tables:
            for b in bs:
                fs.delete(f"{table}/batch={b}")

    return _delete


def _legacy_probes(fs: IndexFS, probe: str):
    """(legacy_gen_probe, batch_dir_probe) for ``fsio``'s pre-v2
    migration: the ``batch=-1`` sentinel and the batch directories of
    the probe table."""
    return (lambda: fs.is_dir(f"{probe}/batch=-1"),
            lambda b: fs.is_dir(f"{probe}/batch={b}"))


def _recover(fs: IndexFS, tables: tuple[str, ...]) -> None:
    """Writer prologue, idempotent: stamp the protocol (adopting a
    pre-v2 sentinel) and finish any journal-committed compaction."""
    ensure_protocol(fs, *_legacy_probes(fs, tables[0]))
    recover_compaction(fs, make_delete_batches(tables))


def committed_table_dirs(fs: IndexFS, table: str,
                         committed: set[str] | None = None
                         ) -> list[str]:
    """``batch=<id>`` directories of ``table`` whose batch is
    COMMITTED (marker present or journal-committed generation, minus
    journal-consumed and tombstoned batches). Markers are written
    AFTER all of a batch's artifacts, so this never lists a
    half-written directory. Pass ``committed`` to reuse one
    resolution across tables."""
    if committed is None:
        committed = committed_batch_ids(fs)
    return [
        fs.uri(f"{table}/{name}")
        for name in fs.listdir(table)
        if name.startswith("batch=")
        and name.split("=", 1)[1] in committed
    ]


def served_table_dirs(fs: IndexFS, layout: dict) -> dict[str, list[str]]:
    """READ-ONLY committed view for serving paths: each layout table's
    committed directories, with a pre-v2 root's legacy sentinel
    overlaid (``fsio.legacy_overlay_ids``) instead of stamped —
    serving never writes to the index root."""
    probe = next(iter(layout))
    committed = committed_batch_ids(fs) | legacy_overlay_ids(
        fs, *_legacy_probes(fs, probe)
    )
    return {t: committed_table_dirs(fs, t, committed) for t in layout}


def batched_sink(index_dir: str, layout: dict, write_batch,
                 compact_every: int | None = None):
    """The ``foreachBatch`` body of every growing-index family: the
    exactly-once commit protocol around the family's own work.

    ``write_batch(bdf, batch_id, fs, committed)`` computes batch
    ``batch_id``'s artifacts against the COMMITTED view (``committed``
    is one resolution of ``fsio.committed_batch_ids``, shared by every
    read of the trigger) and writes each into its own
    ``<table>/batch=<batch_id>`` directory with mode("overwrite").
    Around it, in order:

    1. a present ``_batch_<id>`` marker short-circuits a clean
       redelivery entirely;
    2. the writer prologue stamps the protocol (pre-v2 migration
       probes on the layout's first table) and finishes any
       journal-committed compaction left by a crash;
    3. ``write_batch`` runs — a crash anywhere inside it leaves
       uncommitted directories that the redelivered batch rewrites
       with identical content (it never sees them in its own view);
    4. the marker is touched: the batch's commit point;
    5. with ``compact_every`` set, once the probe table's committed
       REAL-batch directories reach that count, the sink folds them
       via :func:`compact_batched_index` (bounded amortized
       maintenance, no operator involvement).

    All index I/O goes through ``fsio.IndexFS``, so the root may be
    file:/hdfs:/s3a:."""
    tables = tuple(layout)

    def sink(bdf, batch_id: int) -> None:
        spark = bdf.sparkSession
        fs = IndexFS(spark, index_dir)
        if fs.exists(f"{MARKER}{batch_id}"):
            return
        _recover(fs, tables)
        committed = committed_batch_ids(fs)
        write_batch(bdf, batch_id, fs, committed)
        fs.touch(f"{MARKER}{batch_id}")
        if compact_every:
            # single writer: the prior resolution plus this batch is
            # the committed set now
            real = {b for b in committed if not b.startswith("-")}
            real.add(str(batch_id))
            n_real = len(committed_table_dirs(fs, tables[0], real))
            if n_real >= compact_every:
                compact_batched_index(spark, index_dir, layout)

    return sink


def compact_batched_index(spark, index_dir: str, layout: dict) -> dict:
    """Fold every COMMITTED ``batch=<id>`` directory into one fresh
    generation partition per table — the file-count bound that keeps
    a growing index's per-trigger listing from degrading as batches
    accumulate.

    ``layout`` maps table name -> how to lay out the compacted
    generation: a list of join-key columns to hash-cluster on, None
    for a plain repartition, or a CALLABLE ``fn(df, buckets) -> df``
    for layouts the two simple forms can't express (an associative
    SUM-merge, a sortWithinPartitions for row-group pruning); each
    table lands in ``COMPACT_BUCKETS`` files. The FIRST table is the
    probe table (file counts, legacy sentinel detection, row count —
    counted AFTER the transform, so a merging compactor reports
    merged rows). The cutover is the journaled rename-free protocol
    of ``fsio``: write the generation directly at its final
    (invisible-until-committed) path, publish the journal atomically,
    apply idempotently — every crash window recovers via
    ``recover_compaction``, consumed data survives one tombstone
    grace cycle for in-flight readers, and real batch markers persist
    (up to ``MARKER_HORIZON`` behind the newest) so redelivered
    batches still short-circuit. Returns {'files_before',
    'files_after', 'rows'} for the probe table, counted over the
    COMMITTED view."""
    tables = tuple(layout)
    probe = tables[0]
    delete_fn = make_delete_batches(tables)
    fs = IndexFS(spark, index_dir)
    _recover(fs, tables)
    # reclaim half-written generations from a pre-commit crash
    stale = [
        int(name.split("=", 1)[1])
        for table in tables
        for name in fs.listdir(table)
        if name.startswith("batch=-")
    ]
    drop_stale_generations(fs, delete_fn, stale)
    before = fs.count_files(probe)
    committed = committed_batch_ids(fs)
    dirs = {t: committed_table_dirs(fs, t, committed) for t in tables}
    if not dirs[probe]:
        return {"files_before": before, "files_after": before,
                "rows": 0}
    gen = next_generation(fs)
    rows = 0
    consumed: set[str] = set()
    for t in tables:
        df = spark.read.parquet(*dirs[t])
        spec = layout[t]
        if callable(spec):
            rep = spec(df, COMPACT_BUCKETS)
        elif spec:
            rep = df.repartition(COMPACT_BUCKETS, *spec)
        else:
            rep = df.repartition(COMPACT_BUCKETS)
        obs = None
        if t == probe:
            # observe the row count INSIDE the write job: a separate
            # count() action re-ran the whole committed-batches read +
            # repartition a second time per compaction (guide §1.2 —
            # the probe table is the big one, so this halved its cost)
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            obs = Observation()
            rep = rep.observe(obs, F.count(F.lit(1)).alias("rows"))
        rep.write.mode("overwrite").parquet(fs.uri(f"{t}/batch={gen}"))
        if obs is not None:
            rows = obs.get["rows"]
        consumed |= {d.rsplit("=", 1)[1] for d in dirs[t]}
    write_journal(fs, gen, sorted(consumed))  # the atomic commit point
    _recover(fs, tables)  # apply via the idempotent recovery path
    retire_real_markers(fs, MARKER_HORIZON)
    return {
        "files_before": before,
        "files_after": count_committed_files(fs, probe),
        "rows": rows,
    }
