"""``etl_incremental``: the reference's daily incremental ETL, and the
job-embedding index absorbing its arrivals.

A cycle is six ops: five days (four small, one large), then one index
absorb (``w_vector.Absorb``). A day op: the day's seeded raw CSV lands
in its feed's landing directory, then
``streaming.incremental.incremental_file_pipeline`` runs once
(availableNow). The stream applies ``normalize_columns`` and
``conform``; each micro-batch is curated (``plans.pipeline.curate``,
``to_warehouse``), appended to the parquet warehouse and its files
marked in the ``sources.manifest.Manifest``. Every day is followed by
one idle re-run of the same pipeline (no new file), timed apart: the
idle scan.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from avk_job_skill_analytics_spark.plans import pipeline as P
from avk_job_skill_analytics_spark.plans.schemas import FINAL_COLS
from avk_job_skill_analytics_spark.sources import sinks
from avk_job_skill_analytics_spark.sources.manifest import Manifest
from avk_job_skill_analytics_spark.sources.normalize import (
    conform,
    normalize_columns,
)
from avk_job_skill_analytics_spark.streaming.incremental import (
    incremental_file_pipeline,
)

from . import checks, gen
from .tracing import Tracer
from .w_vector import Absorb

EXTRA = ["_seq", "_source_file"]
_OFF = Tracer(False)  # the replay check runs untraced


def feed_schema(feed: str) -> T.StructType:
    return T.StructType([T.StructField(c, T.StringType())
                         for c in gen.FEEDS[feed]])


def stream_transform(feed: str, tr):
    """The streaming half: column mapping and conform, stream-safe
    projections only (the dedup window needs a bounded batch)."""
    def transform(stream):
        with tr.span("pipeline.build_stream"):
            s = stream.withColumn("_source_file", F.input_file_name())
            s = normalize_columns(
                s, {**gen.COLMAPS[feed], "_source_file": "_source_file"})
            return conform(s, FINAL_COLS + EXTRA)
    return transform


def curate_batch(df):
    """The batch half, applied per micro-batch and by the replay check."""
    return P.to_warehouse(P.curate(df, order=[F.col("_seq").cast("int")]))


class Etl:
    name = "etl_incremental"
    # whole cycles of four small days, a large day and one absorb, so
    # every run has the same op mix and the median op is a small day
    min_ops = op_cycle = gen.LARGE_EVERY + 1

    def __init__(self) -> None:
        self.index = Absorb()

    def generate(self, seed: int, run) -> dict:
        self.seed = seed
        self.staging = run.sub("inputs", "etl")
        return {"small_day_rows": list(gen.SMALL_DAY),
                "large_day_rows": list(gen.LARGE_DAY),
                "large_every_n_days": gen.LARGE_EVERY,
                "feeds": sorted(gen.FEEDS),
                "first_days": [gen.day_plan(seed, d)[1] for d in range(8)],
                **self.index.generate(seed, run)}

    def _day(self, i: int) -> int | None:
        """Op ``i``'s day number, None for an index absorb."""
        c, j = divmod(i, self.op_cycle)
        return None if j == gen.LARGE_EVERY else c * gen.LARGE_EVERY + j

    def setup(self, spark, run, tr) -> dict:
        root = run.fresh("etl")
        st = {"root": root, "landing": {f: f"{root}/landing/{f}"
                                        for f in gen.FEEDS},
              "ckpt": {f: f"{root}/ckpt/{f}" for f in gen.FEEDS},
              "warehouse": f"{root}/warehouse",
              "manifest": Manifest(spark, f"{root}/manifest"),
              "days": [], "idle_ms": [], "idle_rows": [], "written": []}
        for d in st["landing"].values():
            os.makedirs(d, exist_ok=True)
        # the first load: a backfill drop per feed through the full
        # pipeline, so the timed days do not pay the first query's start-up
        for day in gen.WARMUP_DAYS:
            st["next"] = gen.write_etl_day(self.seed, day, self.staging)
            self._land_and_run(spark, st, tr)
        st["index"] = self.index.setup(spark, run, tr)
        return st

    def prepare(self, st, i: int) -> None:
        """Untimed: write op ``i``'s day file to staging."""
        day = self._day(i)
        if day is not None:
            st["next"] = gen.write_etl_day(self.seed, day, self.staging)

    def _sink(self, st, tr):
        def sink(bdf, epoch_id: int) -> None:
            from pyspark.sql import Observation

            with tr.span("pipeline.build"):
                obs = Observation()
                wh = curate_batch(bdf).observe(
                    obs, F.count(F.lit(1)).alias("rows"),
                    F.collect_set("_source_file").alias("files"))
            with tr.span("sinks.write"):
                sinks.parquet_sink(wh, st["warehouse"], mode="append")
            with tr.span("manifest.mark"):
                st["manifest"].mark_loaded(
                    [os.path.basename(f) for f in obs.get["files"]])
            st["written"].append(obs.get["rows"])
        return sink

    def _pipeline(self, spark, st, feed: str, tr) -> None:
        with tr.span("streaming.incremental"):
            incremental_file_pipeline(
                spark, st["landing"][feed], feed_schema(feed),
                st["ckpt"][feed], self._sink(st, tr),
                transform=stream_transform(feed, tr), fmt="csv")

    def op(self, spark, st, i: int, tr) -> int:
        if self._day(i) is None:
            return self.index.op(spark, st["index"], tr)
        return self._land_and_run(spark, st, tr)

    def _land_and_run(self, spark, st, tr) -> int:
        feed, path, rows = st["next"]
        with tr.span("bench.land"):
            dst = os.path.join(st["landing"][feed], os.path.basename(path))
            os.replace(path, dst)
        self._pipeline(spark, st, feed, tr)
        st["days"].append((feed, dst, rows))
        return rows

    def after_op(self, spark, st, i: int, tr, timer) -> None:
        """The idle re-run that follows each day, timed apart (it must
        load nothing); the committed-file count that follows each
        absorb."""
        if self._day(i) is None:
            self.index.after_op(spark, st["index"])
            return
        n_before = len(st["written"])
        with timer() as t, tr.span("streaming.idle_scan"):
            self._pipeline(spark, st, st["days"][-1][0], tr)
        st["idle_ms"].append(t.ms)
        st["idle_rows"].append(sum(st["written"][n_before:]))

    def rows_returned(self, st, i: int) -> int:
        """Rows a day committed (0 for an absorb: its vectors feed
        ``index.*`` instead)."""
        day = self._day(i)
        if day is None:
            return 0
        j = day + len(gen.WARMUP_DAYS)  # the set-up's backfill drops first
        return st["written"][j] if j < len(st["written"]) else 0

    def aux(self, spark, st, tr) -> list[float]:
        """The idle scan times; in the traced run, first the drifted
        batch that fires one retrain cutover."""
        if tr.enabled:
            self.index.retrain(spark, st["index"], tr)
        return list(st["idle_ms"])

    def counters(self, st) -> dict:
        return self.index.counters(st["index"])

    def check(self, spark, st) -> tuple[list[bool], bool]:
        """Per day (backfill drops included): committed rows against a
        batch replay of that day's file, plus the band, dedup, manifest
        and idle-run checks. One collect per side for all days. Per
        absorb: ``Absorb.check``."""
        from functools import reduce

        wh = spark.read.parquet(st["warehouse"])
        cols = [c for c in wh.columns if c != "_source_file"]
        replay = reduce(lambda a, b: a.unionByName(b), [
            curate_batch(stream_transform(feed, _OFF)(
                spark.read.option("header", True)
                .schema(feed_schema(feed)).csv(path)))
            for feed, path, _ in st["days"]])
        got, want = _by_file(wh, cols), _by_file(replay, cols)
        loaded = {r[0] for r in st["manifest"].loaded().collect()}
        n_warm = len(gen.WARMUP_DAYS)
        idle = [0] * n_warm + st["idle_rows"]
        ok = []
        for (feed, path, _), idle_rows in zip(st["days"], idle):
            name = os.path.basename(path)
            ok.append(checks.etl_day_ok(cols, got.get(name, []),
                                        want.get(name, []),
                                        name in loaded, idle_rows))
        landed = {os.path.basename(p) for _, p, _ in st["days"]}
        good_setup = loaded == landed and all(ok[:n_warm])
        day_ok = [o and good_setup for o in ok[n_warm:]]
        index_ok, index_aux_ok = self.index.check(st["index"])
        n = len(day_ok) + len(index_ok)
        return [checks.at(day_ok, d) if (d := self._day(i)) is not None
                else checks.at(index_ok, i // self.op_cycle)
                for i in range(n)], index_aux_ok


def _by_file(df, cols: list[str]) -> dict[str, list[tuple]]:
    t = df.select("_source_file", *cols).toArrow()
    out: dict[str, list[tuple]] = {}
    for r in zip(*(t.column(j).to_pylist() for j in range(t.num_columns))):
        out.setdefault(os.path.basename(r[0]), []).append(r[1:])
    return out
