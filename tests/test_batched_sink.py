"""The commit protocol of ``batched_index.batched_sink``, locked once
for every growing-index layout: a redelivered committed batch changes
no file, ``compact_every=2`` folds two batches into exactly one
committed generation without changing the served view, and a crash
at any step of ``compact_batched_index`` is recovered by the next
sink call."""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import pytest

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from avk_job_skill_analytics_spark.operators import ann_index
from avk_job_skill_analytics_spark.streaming import (
    ann_maintain,
    batched_index,
    classify_stream,
    lexical_stream,
    linear_stream,
    minhash_stream,
    semantic_stream,
    ssjoin_stream,
)
from avk_job_skill_analytics_spark.streaming.batched_index import (
    committed_table_dirs,
    compact_batched_index,
    leaves,
    served_table_dirs,
)
from avk_job_skill_analytics_spark.streaming.fsio import (
    IndexFS,
    committed_batch_ids,
    read_journal,
)

T = "the quick brown fox jumps over the lazy dog again and again"
DOCS = "doc_id long, text string"
EMB = "/root/testdata/sf0.001/embeddings.parquet"


@dataclass
class Family:
    layout: dict
    make: Callable      # (index_dir, compact_every) -> sink
    batches: Callable   # spark -> [batch 0 frame, batch 1 frame]
    serve: Callable     # (spark, index_dir) -> sorted served rows
    setup: Callable | None = None  # (spark, index_dir): the base build
    generation: str = "-1"  # the first compaction's generation id


def _rows(df):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


def _index_view(module):
    """Served view of a pair-emitting family: every layout table's
    committed rows plus the per-batch pairs."""
    def serve(spark, d):
        fs = IndexFS(spark, d)
        view = [
            _rows(spark.read.parquet(*committed_table_dirs(fs, t)))
            for t in module.LAYOUT
        ]
        return view + [_rows(spark.read.parquet(f"{d}/pairs"))]

    return serve


def _emb(*classes):
    """One embeddings frame per ``(mod, rem)`` residue class of vec_id."""
    return lambda spark: [
        spark.read.parquet(EMB).filter(F.col("vec_id") % mod == rem)
        for mod, rem in classes
    ]


def _ivfpq_base(spark, d):
    e = spark.read.parquet(EMB)
    ann_index.build_index(
        spark, e.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding", d
    )


def _ivfpq_serve(spark, d):
    q = spark.read.parquet(EMB).filter(F.col("vec_id") < 10)
    return _rows(ann_index.serve_topk(
        spark, d, q, "vec_id", "embedding", n_probe=2, sub_d=8, k=5))


def _retrain_base(spark):
    return spark.read.parquet(EMB).filter(F.col("vec_id") % 4 == 0)


def _raw_view(spark, d):
    """The auto-retrain root's committed raw log plus what it serves."""
    fs = IndexFS(spark, d)
    q = spark.read.parquet(EMB).filter(F.col("vec_id") < 10)
    return [
        _rows(spark.read.parquet(*served_table_dirs(
            fs, ann_maintain.RAW_LAYOUT)["raw"])),
        _rows(ann_index.serve_current(
            spark, d, q, "vec_id", "embedding", n_probe=2, sub_d=8, k=5)),
    ]


def _docs(*batches):
    return lambda spark: [spark.createDataFrame(b, DOCS) for b in batches]


def _vec(seed: float, flip: int = 0) -> list:
    v = [((seed * (i + 3)) % 7) - 3.0 for i in range(8)]
    v[0] += 0.01 * flip
    return v


FAMILIES = {
    "lsh": Family(
        minhash_stream.LAYOUT,
        lambda d, ce: minhash_stream._lsh_maintain_batch_fn(
            d, "doc_id", "text", 3, 16, 8, 0.5, 7, compact_every=ce),
        _docs([(1, T), (2, "other words about engines entirely")],
              [(3, T + " tail")]),
        _index_view(minhash_stream),
    ),
    "bm25": Family(
        lexical_stream.LAYOUT,
        lambda d, ce: lexical_stream._bm25_maintain_batch_fn(
            d, "doc_id", "text", compact_every=ce),
        _docs([(1, "spark shuffle join spark"), (2, "pad pad spark")],
              [(3, "spark spark pad")]),
        lambda spark, d: _rows(lexical_stream.serve_bm25(
            spark, d, ["spark", "pad"], "doc_id", k=10)),
    ),
    "nb": Family(
        classify_stream.LAYOUT,
        lambda d, ce: classify_stream._nb_train_batch_fn(
            d, "doc_id", "text", "y", compact_every=ce),
        lambda spark: [
            spark.createDataFrame(
                [(1, "alpha alpha beta", 1), (2, "beta gamma", 0)],
                "doc_id long, text string, y int"),
            spark.createDataFrame(
                [(3, "alpha gamma gamma", 0)],
                "doc_id long, text string, y int"),
        ],
        lambda spark, d: _rows(classify_stream.serve_nb_weights(spark, d)),
    ),
    "logreg": Family(
        linear_stream.LAYOUT,
        lambda d, ce: linear_stream._logreg_train_batch_fn(
            d, ["x0", "x1"], "y", 1.0, 2.0, compact_every=ce),
        lambda spark: [
            spark.createDataFrame(
                [(1.0, 0.1, 0.0), (1.0, 0.9, 1.0)],
                "x0 double, x1 double, y double"),
            spark.createDataFrame(
                [(1.0, 0.8, 1.0)], "x0 double, x1 double, y double"),
        ],
        lambda spark, d: _rows(linear_stream.serve_logreg_weights(
            spark, d, ["w_bias", "w_x"])),
    ),
    "semantic": Family(
        semantic_stream.LAYOUT,
        lambda d, ce: semantic_stream._semantic_maintain_batch_fn(
            d, "vec_id", "embedding", 8, bands=2, rows_per_band=4,
            threshold=0.9, compact_every=ce),
        lambda spark: [
            spark.createDataFrame(
                [(1, _vec(1.0)), (2, _vec(5.3))],
                "vec_id long, embedding array<double>"),
            spark.createDataFrame(
                [(3, _vec(1.0, flip=1))],
                "vec_id long, embedding array<double>"),
        ],
        _index_view(semantic_stream),
    ),
    "ssjoin": Family(
        ssjoin_stream.LAYOUT,
        lambda d, ce: ssjoin_stream._ssjoin_maintain_batch_fn(
            d, "doc_id", "text", 3, 1, 2, compact_every=ce),
        _docs([(1, T), (2, "unrelated words entirely about other topics")],
              [(3, T + " tail")]),
        _index_view(ssjoin_stream),
    ),
    "ivfpq": Family(
        ann_index.LAYOUT,
        lambda d, ce: ann_maintain._ivfpq_append_batch_fn(
            d, "vec_id", "embedding", 8, 8, compact_every=ce),
        _emb((4, 1), (4, 3)),
        _ivfpq_serve,
        setup=_ivfpq_base,
        generation="-2",  # the base build holds -1
    ),
}

# every layout, including the auto-retrain raw log, whose sink takes
# no compact_every (the crash test drives the compactor directly)
LAYOUTS = {
    **FAMILIES,
    "raw": Family(
        ann_maintain.RAW_LAYOUT,
        lambda d, ce: ann_maintain._auto_retrain_batch_fn(
            d, _retrain_base(SparkSession.getActiveSession()), "vec_id",
            "embedding"),
        _emb((8, 1), (8, 3)),
        _raw_view,
        setup=lambda spark, d: ann_index.rebuild_swap(
            spark, d, _retrain_base(spark), "vec_id", "embedding"),
    ),
}


def _tree(d: str) -> dict:
    """Every path under the index root with its size and mtime."""
    out = {}
    for root, dirs, files in os.walk(d):
        for name in dirs + files:
            p = os.path.join(root, name)
            st = os.stat(p)
            out[os.path.relpath(p, d)] = (st.st_size, st.st_mtime_ns)
    return out


def _drain(spark, fam: Family, d: str, compact_every):
    os.makedirs(d)
    if fam.setup is not None:
        fam.setup(spark, d)
    sink = fam.make(d, compact_every)
    batches = fam.batches(spark)
    for i, b in enumerate(batches):
        sink(b, i)
    return sink, batches


@pytest.mark.parametrize("name", list(FAMILIES))
def test_redelivered_committed_batch_changes_no_file(spark, tmp_path,
                                                     name):
    fam = FAMILIES[name]
    d = str(tmp_path / "idx")
    sink, batches = _drain(spark, fam, d, None)
    before = _tree(d)
    for i, b in enumerate(batches):
        sink(b, i)
    assert _tree(d) == before


@pytest.mark.parametrize("name", list(FAMILIES))
def test_compact_every_two_leaves_one_generation(spark, tmp_path, name):
    fam = FAMILIES[name]
    plain = str(tmp_path / "plain")
    auto = str(tmp_path / "auto")
    _drain(spark, fam, plain, None)
    sink, batches = _drain(spark, fam, auto, 2)
    fs = IndexFS(spark, auto)
    committed = committed_batch_ids(fs)
    for table, by_id in leaves(fs, fam.layout, committed).items():
        assert list(by_id) == [fam.generation], (table, list(by_id))
    assert fam.serve(spark, auto) == fam.serve(spark, plain)
    # a batch absorbed into the generation still short-circuits
    before = _tree(auto)
    sink(batches[0], 0)
    assert _tree(auto) == before


class Crash(Exception):
    pass


def _arm(monkeypatch, point: str) -> None:
    """Make the next compaction raise at ``point``: after the
    generation write and before the journal publish; after the
    publish and before apply; or mid-apply, right after the first
    leaf delete (the previous cycle's tombstone purge)."""
    publish = batched_index.write_journal
    delete = IndexFS.delete

    def crash_after_delete(self, rel):
        delete(self, rel)
        raise Crash(point)

    def write_journal(fs, gen, consumed):
        if point == "before_journal":
            raise Crash(point)
        publish(fs, gen, consumed)
        if point == "before_apply":
            raise Crash(point)
        monkeypatch.setattr(IndexFS, "delete", crash_after_delete)

    monkeypatch.setattr(batched_index, "write_journal", write_journal)


@pytest.mark.parametrize("name", list(LAYOUTS))
def test_compactor_crash_recovers_on_next_sink_call(spark, tmp_path,
                                                    monkeypatch, name):
    """A compaction that crashes at any step of
    ``compact_batched_index`` is finished by the next sink call: the
    served view then matches an uncrashed twin's, and so does the view
    after one more clean compaction of both roots."""
    fam = LAYOUTS[name]
    roots = {k: str(tmp_path / k) for k in ("twin", "crashed")}
    sinks = [_drain(spark, fam, d, None)[0] for d in roots.values()]
    frames = fam.batches(spark) * 2

    def feed(batch_id):
        for sink in sinks:
            sink(frames[batch_id - 2], batch_id)

    for d in roots.values():
        compact_batched_index(spark, d, fam.layout)  # the first cycle
    feed(2)
    points = ("before_journal", "before_apply", "mid_apply")
    for batch_id, point in enumerate(points, start=3):
        compact_batched_index(spark, roots["twin"], fam.layout)
        _arm(monkeypatch, point)
        with pytest.raises(Crash):
            compact_batched_index(spark, roots["crashed"], fam.layout)
        monkeypatch.undo()
        feed(batch_id)  # the next sink call recovers
        assert read_journal(IndexFS(spark, roots["crashed"])) is None
        assert (fam.serve(spark, roots["crashed"])
                == fam.serve(spark, roots["twin"])), point
    for d in roots.values():
        compact_batched_index(spark, d, fam.layout)
    assert (fam.serve(spark, roots["crashed"])
            == fam.serve(spark, roots["twin"]))
