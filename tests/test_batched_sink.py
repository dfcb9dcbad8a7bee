"""The commit protocol of ``batched_index.batched_sink``, locked once
for all six growing-index families: a redelivered committed batch
changes no file, and ``compact_every=2`` folds two batches into
exactly one committed generation without changing the served view."""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import pytest

from avk_job_skill_analytics_spark.streaming import (
    classify_stream,
    lexical_stream,
    linear_stream,
    minhash_stream,
    semantic_stream,
    ssjoin_stream,
)
from avk_job_skill_analytics_spark.streaming.batched_index import (
    committed_table_dirs,
)
from avk_job_skill_analytics_spark.streaming.fsio import IndexFS

T = "the quick brown fox jumps over the lazy dog again and again"
DOCS = "doc_id long, text string"


@dataclass
class Family:
    module: object
    make: Callable      # (index_dir, compact_every) -> sink
    batches: Callable   # spark -> [batch 0 frame, batch 1 frame]
    serve: Callable     # (spark, index_dir) -> sorted served rows


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


def _docs(*batches):
    return lambda spark: [spark.createDataFrame(b, DOCS) for b in batches]


def _vec(seed: float, flip: int = 0) -> list:
    v = [((seed * (i + 3)) % 7) - 3.0 for i in range(8)]
    v[0] += 0.01 * flip
    return v


FAMILIES = {
    "lsh": Family(
        minhash_stream,
        lambda d, ce: minhash_stream._lsh_maintain_batch_fn(
            d, "doc_id", "text", 3, 16, 8, 0.5, 7, compact_every=ce),
        _docs([(1, T), (2, "other words about engines entirely")],
              [(3, T + " tail")]),
        _index_view(minhash_stream),
    ),
    "bm25": Family(
        lexical_stream,
        lambda d, ce: lexical_stream._bm25_maintain_batch_fn(
            d, "doc_id", "text", compact_every=ce),
        _docs([(1, "spark shuffle join spark"), (2, "pad pad spark")],
              [(3, "spark spark pad")]),
        lambda spark, d: _rows(lexical_stream.serve_bm25(
            spark, d, ["spark", "pad"], "doc_id", k=10)),
    ),
    "nb": Family(
        classify_stream,
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
        linear_stream,
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
        semantic_stream,
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
        ssjoin_stream,
        lambda d, ce: ssjoin_stream._ssjoin_maintain_batch_fn(
            d, "doc_id", "text", 3, 1, 2, compact_every=ce),
        _docs([(1, T), (2, "unrelated words entirely about other topics")],
              [(3, T + " tail")]),
        _index_view(ssjoin_stream),
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
    for table in fam.module.LAYOUT:
        ids = [p.rsplit("=", 1)[1]
               for p in committed_table_dirs(fs, table)]
        assert ids == ["-1"], (table, ids)
    assert fam.serve(spark, auto) == fam.serve(spark, plain)
    # a batch absorbed into the generation still short-circuits
    before = _tree(auto)
    sink(batches[0], 0)
    assert _tree(auto) == before
