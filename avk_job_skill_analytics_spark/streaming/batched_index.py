"""One commit-protocol sink and one compactor for every growing index,
on the shared fsio commit protocol.

Nine layouts grow an index this way: the banded LSH index
(``minhash_stream``), BM25 postings (``lexical_stream``), Naive Bayes
count deltas (``classify_stream``), logistic-regression states
(``linear_stream``), embedding band postings (``semantic_stream``),
exact prefix postings (``ssjoin_stream``), the IVF-PQ cells inventory
(``operators.ann_index``, ``cells/_cell=<c>/_batch=<id>``) and the
auto-retrain raw arrivals log (``ann_maintain``, ``raw/_rbatch=<id>``).
Each persists one leaf directory per batch and table, committed by a
``_batch_<id>`` marker, and periodically folds committed batches into
a negative GENERATION via the journaled, rename-free cutover
documented in ``fsio``.

A family is described by its LAYOUT — ``{table: spec}``, first table
the probe table — plus the work it does per micro-batch. A plain spec
(a cluster spec, see :func:`compact_batched_index`) means
``<table>/batch=<id>`` leaves; a :class:`Table` names another batch
partition column and at most one outer partition column above it.
Every leaf operation (listing, deletion, legacy probes, the committed
read, the generation write, file counts) derives from those names.
:func:`batched_sink` owns every protocol step around the family's
work (redelivery short-circuit, legacy stamp, crash recovery, the
marker, the auto-compaction trigger) and :func:`compact_batched_index`
owns the cutover, so the crash-window guarantees hold for every
layout from one implementation.
"""

from __future__ import annotations

from dataclasses import dataclass

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
    "Table",
    "batched_sink",
    "leaves",
    "make_delete_batches",
    "committed_table_dirs",
    "served_leaves",
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


@dataclass(frozen=True)
class Table:
    """A layout table whose leaves are not plain ``batch=<id>``
    directories. ``batch`` names the batch partition column and
    ``outer``, when set, the one partition column above it (leaves are
    then ``<table>/<outer>=<v>/<batch>=<id>``, e.g. the IVF-PQ cells
    inventory clustered by ``_cell``); ``cluster`` is the table's
    compaction spec, as for a plain layout entry."""

    cluster: object = None
    batch: str = "batch"
    outer: str | None = None


def _specs(layout: dict) -> dict[str, Table]:
    return {t: s if isinstance(s, Table) else Table(s)
            for t, s in layout.items()}


def _parents(fs: IndexFS, table: str, spec: Table) -> list[str]:
    """The directories that hold ``table``'s batch leaves."""
    if spec.outer is None:
        return [table]
    return [f"{table}/{name}" for name in fs.listdir(table)
            if name.startswith(f"{spec.outer}=")]


def leaves(fs: IndexFS, layout: dict,
           ids: set[str] | None = None) -> dict[str, dict[str, list[str]]]:
    """Each layout table's leaf directories (relative to the root) by
    batch id, in listing order: every leaf, or only the batches in
    ``ids``. An outer-partitioned table has one leaf per outer value
    that batch touched."""
    out: dict[str, dict[str, list[str]]] = {}
    for table, spec in _specs(layout).items():
        pre = f"{spec.batch}="
        by_id = out[table] = {}
        for parent in _parents(fs, table, spec):
            for name in fs.listdir(parent):
                b = name[len(pre):]
                if name.startswith(pre) and (ids is None or b in ids):
                    by_id.setdefault(b, []).append(f"{parent}/{name}")
    return out


def _uris(fs: IndexFS, by_id: dict[str, list[str]]) -> list[str]:
    """A :func:`leaves` entry as Spark-readable leaf paths."""
    return [fs.uri(rel) for rels in by_id.values() for rel in rels]


def make_delete_batches(layout: dict):
    """The shared protocol's layout callback: deletes batch ``b``'s
    leaf under every parent directory of every layout table (an outer
    table's parents are listed once per call, not once per batch)."""
    specs = _specs(layout)

    def _delete(fs: IndexFS, bs: list[str]) -> None:
        for table, spec in specs.items():
            for parent in _parents(fs, table, spec):
                for b in bs:
                    fs.delete(f"{parent}/{spec.batch}={b}")

    return _delete


def _legacy_probes(fs: IndexFS, layout: dict):
    """(legacy_gen_probe, batch_dir_probe) for ``fsio``'s pre-v2
    migration: the ``-1`` sentinel and the batch leaves of the probe
    table. Only called while the root is unstamped."""
    probe, spec = next(iter(_specs(layout).items()))

    def has(b: str) -> bool:
        return any(fs.is_dir(f"{parent}/{spec.batch}={b}")
                   for parent in _parents(fs, probe, spec))

    return (lambda: has("-1")), has


def _recover(fs: IndexFS, layout: dict) -> None:
    """Writer prologue, idempotent: stamp the protocol (adopting a
    pre-v2 sentinel) and finish any journal-committed compaction."""
    ensure_protocol(fs, *_legacy_probes(fs, layout))
    recover_compaction(fs, make_delete_batches(layout))


def committed_table_dirs(fs: IndexFS, table: str,
                         committed: set[str] | None = None
                         ) -> list[str]:
    """``batch=<id>`` directories of a plain ``table`` whose batch is
    COMMITTED (marker present or journal-committed generation, minus
    journal-consumed and tombstoned batches). Markers are written
    AFTER all of a batch's artifacts, so this never lists a
    half-written directory. Pass ``committed`` to reuse one
    resolution across tables."""
    if committed is None:
        committed = committed_batch_ids(fs)
    return _uris(fs, leaves(fs, {table: None}, committed)[table])


def served_leaves(fs: IndexFS,
                  layout: dict) -> dict[str, dict[str, list[str]]]:
    """READ-ONLY committed view for serving paths: :func:`leaves` of
    every committed batch, with a pre-v2 root's legacy sentinel
    overlaid (``fsio.legacy_overlay_ids``) instead of stamped —
    serving never writes to the index root. Only batches that own a
    live leaf appear, so the view stays bounded by live leaves, not by
    how many redelivery markers have ever been written."""
    served = committed_batch_ids(fs) | legacy_overlay_ids(
        fs, *_legacy_probes(fs, layout)
    )
    return leaves(fs, layout, served)


def served_table_dirs(fs: IndexFS, layout: dict) -> dict[str, list[str]]:
    """:func:`served_leaves` as Spark-readable leaf paths per table."""
    return {t: _uris(fs, by_id)
            for t, by_id in served_leaves(fs, layout).items()}


def batched_sink(index_dir: str, layout: dict, write_batch,
                 compact_every: int | None = None):
    """The ``foreachBatch`` body of every growing-index family: the
    exactly-once commit protocol around the family's own work.

    ``write_batch(bdf, batch_id, fs, committed)`` computes batch
    ``batch_id``'s artifacts against the COMMITTED view (``committed``
    is one resolution of ``fsio.committed_batch_ids``, shared by every
    read of the trigger) and writes each into its own leaf
    directories (a plain overwrite of ``<table>/batch=<batch_id>``, or
    a dynamic partition overwrite for a :class:`Table` layout).
    Around it, in order:

    1. a present ``_batch_<id>`` marker short-circuits a clean
       redelivery entirely;
    2. the writer prologue stamps the protocol (pre-v2 migration
       probes on the layout's first table) and finishes any
       journal-committed compaction left by a crash;
    3. ``write_batch`` runs — a crash anywhere inside it leaves
       uncommitted directories that the redelivered batch rewrites
       with identical content (it never sees them in its own view);
       a ``write_batch`` that finds its work already durable may
       simply return;
    4. the marker is touched: the batch's commit point;
    5. with ``compact_every`` set, once the probe table's committed
       REAL batches owning live leaves reach that count, the sink
       folds them via :func:`compact_batched_index` (bounded amortized
       maintenance, no operator involvement).

    All index I/O goes through ``fsio.IndexFS``, so the root may be
    file:/hdfs:/s3a:."""
    first = next(iter(layout))
    probe = {first: layout[first]}

    def sink(bdf, batch_id: int) -> None:
        spark = bdf.sparkSession
        fs = IndexFS(spark, index_dir)
        if fs.exists(f"{MARKER}{batch_id}"):
            return
        _recover(fs, layout)
        committed = committed_batch_ids(fs)
        write_batch(bdf, batch_id, fs, committed)
        fs.touch(f"{MARKER}{batch_id}")
        if compact_every:
            # single writer: the prior resolution plus this batch is
            # the committed set now; markers outlive compaction, so
            # only batches that still own leaves count
            real = {b for b in committed if not b.startswith("-")}
            real.add(str(batch_id))
            n_real = len(leaves(fs, probe, real)[first])
            if n_real >= compact_every:
                compact_batched_index(spark, index_dir, layout)

    return sink


def compact_batched_index(spark, index_dir: str, layout: dict) -> dict:
    """Fold every COMMITTED batch leaf into one fresh generation per
    table — the file-count bound that keeps a growing index's
    per-trigger listing from degrading as batches accumulate.

    Each layout spec says how to lay out the compacted generation: a
    list of join-key columns to hash-cluster on, None for a plain
    repartition, or a CALLABLE ``fn(df, buckets) -> df`` for layouts
    the two simple forms can't express (an associative SUM-merge, a
    sortWithinPartitions for row-group pruning) — wrapped in a
    :class:`Table` for a non-plain leaf layout. Each table lands in
    ``COMPACT_BUCKETS`` files (per outer value for an outer-partitioned
    table). The FIRST table is the probe table (file counts, legacy
    sentinel detection, row count — counted AFTER the transform, so a
    merging compactor reports merged rows). With no committed real
    batch there is nothing to fold and the call is a no-op.

    The committed leaves are read directly — explicit leaf paths for
    a plain table; a root read with a batch-partition filter for an
    outer-partitioned one, whose leaves multiply by the outer values —
    and the generation is written at its final, invisible-until-
    committed path (a dynamic partition overwrite for an outer table:
    it replaces only the generation's own leaves). The cutover is the
    journaled rename-free protocol of ``fsio``: publish the journal
    atomically, apply idempotently — every crash window recovers via
    ``recover_compaction``, consumed data survives one tombstone grace
    cycle for in-flight readers, and real batch markers persist (up to
    ``MARKER_HORIZON`` behind the newest) so redelivered batches still
    short-circuit. Returns {'files_before', 'files_after', 'rows'} for
    the probe table, files_after counted over the COMMITTED view."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    specs = _specs(layout)
    probe = next(iter(specs))
    fs = IndexFS(spark, index_dir)
    _recover(fs, layout)
    # reclaim half-written generations from a pre-commit crash
    stale = {int(b) for by_id in leaves(fs, layout).values()
             for b in by_id if b.startswith("-")}
    drop_stale_generations(fs, make_delete_batches(layout), sorted(stale))
    before = fs.count_files(probe)
    live = leaves(fs, layout, committed_batch_ids(fs))
    if all(b.startswith("-") for b in live[probe]):
        return {"files_before": before, "files_after": before,
                "rows": 0}
    gen = next_generation(fs)
    rows = 0
    consumed: set[str] = set()
    for t, spec in specs.items():
        by_id = live[t]
        if spec.outer is None:
            df = spark.read.parquet(*_uris(fs, by_id))
        else:
            df = (
                spark.read.parquet(fs.uri(t))
                .filter(F.col(spec.batch).cast("long")
                        .isin([int(b) for b in by_id]))
                .drop(spec.batch)
            )
        if callable(spec.cluster):
            rep = spec.cluster(df, COMPACT_BUCKETS)
        elif spec.cluster:
            rep = df.repartition(COMPACT_BUCKETS, *spec.cluster)
        else:
            rep = df.repartition(COMPACT_BUCKETS)
        obs = None
        if t == probe:
            # observe the row count INSIDE the write job: a separate
            # count() action re-ran the whole committed-batches read +
            # repartition a second time per compaction (guide §1.2 —
            # the probe table is the big one, so this halved its cost)
            obs = Observation()
            rep = rep.observe(obs, F.count(F.lit(1)).alias("rows"))
        if spec.outer is None:
            rep.write.mode("overwrite").parquet(
                fs.uri(f"{t}/{spec.batch}={gen}"))
        else:
            (rep.withColumn(spec.batch, F.lit(gen))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy(spec.outer, spec.batch)
             .parquet(fs.uri(t)))
        if obs is not None:
            rows = obs.get["rows"]
        consumed |= set(by_id)
    write_journal(fs, gen, sorted(consumed))  # the atomic commit point
    _recover(fs, layout)  # apply via the idempotent recovery path
    retire_real_markers(fs, MARKER_HORIZON)
    committed = committed_batch_ids(fs)
    spec = specs[probe]
    return {
        "files_before": before,
        "files_after": sum(
            count_committed_files(fs, parent, prefix=f"{spec.batch}=",
                                  committed=committed)
            for parent in _parents(fs, probe, spec)
        ),
        "rows": rows,
    }
