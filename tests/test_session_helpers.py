"""plans.session.tiny_df — the single-partition tiny-frame builder.

The optimization contract: same rows and dtypes as
``spark.createDataFrame(rows, schema)`` (results must never change),
but exactly ONE partition from birth (the round-10/round-14 tiny-frame
discipline: no 32-way pickled spread, no sequential coalesce(1)).
"""

from __future__ import annotations

from avk_job_skill_analytics_spark.plans.session import tiny_df


def test_tiny_df_single_partition(spark):
    df = tiny_df(spark, [(1, "a"), (2, "b")], "k long, v string")
    assert df.rdd.getNumPartitions() == 1


def test_tiny_df_matches_createdataframe(spark):
    rows = [(1, "a", 1.5, [1, 2]), (2, "b", -0.25, []), (3, None, 0.0, [7])]
    schema = "k long, v string, x double, arr array<long>"
    a = tiny_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_tiny_df_empty(spark):
    df = tiny_df(spark, [], "k long, v string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "v"]


def test_tiny_df_nested_struct_array(spark):
    rows = [("z", [(1, 2), (3, 4)])]
    schema = "zone string, verts array<struct<lat: long, lon: long>>"
    a = tiny_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema
    assert a.collect() == b.collect()


def test_scratch_persist_bounds_storage(spark):
    """scratch_persist keeps at most `keep` frames pinned: a session
    running many persist-bearing queries must not grow storage memory
    without bound (round-15 unpersist discipline)."""
    from avk_job_skill_analytics_spark.plans.session import (
        _SCRATCH_PERSISTED,
        scratch_persist,
    )

    start = spark.sparkContext._jsc.getPersistentRDDs().size()
    frames = []
    for i in range(12):
        df = spark.range(10 + i).selectExpr("id", "id * 2 AS y")
        frames.append(scratch_persist(df, keep=4))
        df.count()  # materialize the persist
    live = spark.sparkContext._jsc.getPersistentRDDs().size() - start
    assert live <= 4, f"{live} scratch frames still pinned (keep=4)"
    assert len(_SCRATCH_PERSISTED) <= 4
    # evicted frames still compute correctly (recompute, not corruption)
    assert frames[0].count() == 10


def test_scratch_persist_fifo_is_thread_safe(monkeypatch):
    """Concurrent scratch_persist calls from several driver threads:
    the FIFO never holds more than `keep` frames in any state another
    thread can observe, ends holding exactly `keep`, and every evicted
    frame is unpersisted exactly once. The FIFO is swapped for a list
    that yields the GIL inside each operation, widening every
    check-then-act window an unguarded FIFO would race through."""
    import threading
    import time

    from avk_job_skill_analytics_spark.plans import session

    class YieldingList(list):
        def append(self, x):
            super().append(x)
            time.sleep(0)

        def pop(self, i=-1):
            time.sleep(0)
            return super().pop(i)

        def __len__(self):
            n = super().__len__()
            time.sleep(0)
            return n

    keep, n_threads, per_thread = 3, 8, 100
    fifo = YieldingList()
    monkeypatch.setattr(session, "_SCRATCH_PERSISTED", fifo)
    seen: list[int] = []
    unpersisted: list[int] = []

    class Frame:
        def __init__(self, i):
            self.i = i

        def _observe(self):
            # read the FIFO under its lock: a state other threads see
            with session._SCRATCH_LOCK:
                seen.append(list.__len__(fifo))

        def persist(self):
            self._observe()

        def unpersist(self):
            self._observe()
            unpersisted.append(self.i)

    def worker(t):
        for j in range(per_thread):
            session.scratch_persist(Frame(t * per_thread + j), keep=keep)

    threads = [threading.Thread(target=worker, args=(t,))
               for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=60)
    assert not any(th.is_alive() for th in threads)
    total = n_threads * per_thread
    assert max(seen) <= keep
    assert list.__len__(fifo) == keep
    assert len(unpersisted) == len(set(unpersisted)) == total - keep
    assert {f.i for f in fifo}.isdisjoint(unpersisted)
