"""The vector layer's two sides, each run inside a host workload.

- ``Search`` (read side, in ``dashboard``): a top-k request is one
  seeded batch of query vectors answered by ``similarity.lsh_topk`` and
  ``similarity.cosine_topk`` over the base corpus. In the traced run the
  post-loop job adds the mutual-kNN graph pass
  (``similarity.knn_graph_adaptive`` -> ``graph.mutual_edges`` ->
  ``graph.connected_components_twostar``).
- ``Absorb`` (write side, in ``etl_incremental``): set-up builds the
  IVF-PQ index over the base corpus (``ann_index.build_index``); an
  absorb is one seeded arrival batch landing and being absorbed through
  ``streaming.ann_maintain.foreach_batch_ivfpq_append`` with
  ``compact_every=1`` (so every absorb compacts), then a read-after-write
  ``ann_index.serve_topk`` for vectors of that batch. In the traced run
  the post-loop job adds one drifted batch through
  ``foreach_batch_auto_retrain``, which fires one retrain cutover.

The graph pass and the retrain are one-shot jobs that feed only
per-layer metrics (``graph.*``, ``index.retrain*``), so the untraced
run, which gives the end-to-end metrics, leaves them out.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from avk_job_skill_analytics_spark.operators import ann_index, graph
from avk_job_skill_analytics_spark.operators import similarity as S
from avk_job_skill_analytics_spark.streaming import fsio
from avk_job_skill_analytics_spark.streaming.ann_maintain import (
    foreach_batch_auto_retrain,
    foreach_batch_ivfpq_append,
)

from . import checks, gen

VEC_SCHEMA = "vec_id long, embedding array<double>"
K, PLANES, DIM = 5, 4, gen.DIM
MAX_BATCHES = 8  # arrival batches generated: one warm-up, one per cycle


def _drain(writer, ckpt: str) -> None:
    q = (writer.option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def _stream(spark, src: str):
    return (spark.readStream.format("parquet").schema(VEC_SCHEMA)
            .option("maxFilesPerTrigger", 1).load(src))


def _pairs(rows, a: str, b: str, c: str) -> dict[int, list]:
    """query id -> [(neighbor, score)] in rank order."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r[a], r["rk"])):
        out.setdefault(int(r[a]), []).append((int(r[b]), r[c]))
    return out


class _Corpus:
    def _inputs(self, seed: int, run, n_batches: int) -> dict:
        self.seed = seed
        self.dir = run.sub("inputs", "vectors")
        sizes = gen.index_inputs(seed, self.dir, n_batches)
        self.base = pq.read_table(f"{self.dir}/base.parquet")
        self.ids = self.base.column("vec_id").to_numpy()
        self.x = np.array(self.base.column("embedding").to_pylist())
        return sizes


class Search(_Corpus):
    def generate(self, seed: int, run) -> dict:
        sizes = self._inputs(seed, run, 0)
        return {"corpus_vectors": sizes["base_vectors"], "dim": DIM,
                "queries_per_request": gen.VEC_QUERIES, "k": K}

    def setup(self, spark, tr) -> dict:
        """Opens the corpus and answers one untimed request."""
        st = {"corpus": spark.read.parquet(f"{self.dir}/base.parquet"),
              "results": []}
        self.op(spark, st, tr)
        return st

    def op(self, spark, st, tr) -> int:
        """The next request; returns the query vectors it answered."""
        ids = gen.query_ids(self.seed, len(st["results"]), gen.INDEX_BASE)
        q = st["corpus"].filter(F.col("vec_id").isin(ids))
        with tr.span("similarity.lsh_topk"):
            lsh = S.lsh_topk(st["corpus"], q, "vec_id", "embedding",
                             dim=DIM, k=K, planes=PLANES).collect()
        with tr.span("similarity.cosine_topk"):
            cos = S.cosine_topk(st["corpus"], q, "vec_id", "embedding",
                                k=K).collect()
        st["results"].append((ids, lsh, cos))
        return len(ids)

    def graph_pass(self, spark, st, tr) -> None:
        with tr.span("graph.pass"):
            with tr.span("similarity.knn_graph"):
                edges = S.knn_graph_adaptive(st["corpus"], "vec_id",
                                             "embedding", dim=DIM, k=3)
            with tr.span("graph.mutual_edges"):
                mut = graph.mutual_edges(edges, "src", "neighbor_id")
            with tr.span("graph.components"):
                comp = graph.connected_components_twostar(mut.select(
                    F.col("src").alias("doc_a"),
                    F.col("neighbor_id").alias("doc_b"))).collect()
        st["components"] = {(int(r["doc_id"]), int(r["cluster_id"]))
                            for r in comp}

    def counters(self, st) -> dict:
        return {"similarity.results": sum(len(r[1]) + len(r[2])  # timed
                                          for r in st["results"][1:])}

    def check(self, st) -> tuple[list[bool], bool]:
        """Per timed request, and for the set-up's: lsh_topk and
        cosine_topk against NumPy replays of the same folds (bucketed
        and exact). After a graph pass: its components against a NumPy
        replay of the bucketed 3-NN graph."""
        ids, x = self.ids, self.x
        sig = checks.lsh_signatures(x, PLANES, S._plane_sign)
        ok = []
        for qids, lsh_rows, cos_rows in st["results"]:
            lsh = _pairs(lsh_rows, "query_id", "neighbor_id", "cosine")
            cos = _pairs(cos_rows, "query_id", "neighbor_id", "cosine")
            good = True
            for q in qids:
                pos = int(np.searchsorted(ids, q))
                good &= checks.topk_matches(
                    lsh.get(q, []), checks.bucket_topk(ids, x, sig, pos, K))
                good &= checks.topk_matches(
                    cos.get(q, []), checks.exact_topk(ids, x, q, K))
            ok.append(good)
        if "components" not in st:  # untraced: no graph pass
            return ok[1:], ok[0]
        gsig = checks.lsh_signatures(
            x, S.adaptive_planes(len(ids)), S._plane_sign)
        knn = {int(ids[p]): [i for i, _ in checks.bucket_topk(
            ids, x, gsig, p, 3)] for p in range(len(ids))}
        return ok[1:], (ok[0] and checks.mutual_components(knn)
                        == st["components"])


class Absorb(_Corpus):
    def generate(self, seed: int, run) -> dict:
        sizes = self._inputs(seed, run, MAX_BATCHES)
        return {**sizes, "dim": DIM, "k": K}

    def setup(self, spark, run, tr) -> dict:
        """The base index build, then one untimed absorb so the timed
        ones do not pay the first stream's start-up."""
        root = run.fresh("vec")
        st = {"root": root, "idx": f"{root}/index/v0",
              "src": f"{root}/arrivals", "ckpt": f"{root}/ckpt",
              "absorbed": 0, "results": [], "files": []}
        os.makedirs(st["src"], exist_ok=True)
        st["corpus"] = spark.read.parquet(f"{self.dir}/base.parquet")
        # version 0 of a versioned root (build_index under the hood), so
        # the drift batch after the loop can retrain and cut over
        with tr.span("ann_index.build"):
            ann_index.rebuild_swap(spark, f"{root}/index", st["corpus"],
                                   "vec_id", "embedding")
        self.op(spark, st, tr)
        return st

    def _serve(self, spark, st, ids: list[int], src) -> list:
        q = src.filter(F.col("vec_id").isin(ids))
        return ann_index.serve_topk(spark, st["idx"], q, "vec_id",
                                    "embedding", n_probe=2, sub_d=8,
                                    k=K).collect()

    def op(self, spark, st, tr) -> int:
        """The next arrival batch lands and is absorbed, then served;
        returns the vectors absorbed."""
        b = st["absorbed"]
        name = f"batch_{b:04d}.parquet"
        with tr.span("bench.land"):
            shutil.copyfile(f"{self.dir}/{name}", f"{st['src']}/{name}")
        with tr.span("index.absorb"):
            _drain(foreach_batch_ivfpq_append(
                _stream(spark, st["src"]), st["idx"], "vec_id", "embedding",
                m=8, sub_d=8, compact_every=1), st["ckpt"])
        st["absorbed"] = b + 1
        ids = list(range(gen.INDEX_BASE + b * gen.INDEX_BATCH,
                         gen.INDEX_BASE + b * gen.INDEX_BATCH
                         + gen.VEC_QUERIES))
        with tr.span("ann_index.serve"):
            arrivals = spark.read.parquet(f"{st['src']}/{name}")
            served = self._serve(spark, st, ids, arrivals)
        st["results"].append((ids, st["absorbed"], served))
        return gen.INDEX_BATCH

    def after_op(self, spark, st) -> None:
        """Untimed: the committed data files a new reader opens, and the
        compactions so far."""
        fs = fsio.IndexFS(spark, st["idx"])
        committed = fsio.committed_batch_ids(fs)
        st["files"].append(sum(
            fsio.count_committed_files(fs, f"cells/{cd}", prefix="_batch=",
                                       committed=committed)
            for cd in fs.listdir("cells") if cd.startswith("_cell=")))
        # generations below the base build's -1 are compactions
        st["compactions"] = -fsio.next_generation(fs) - 2

    def retrain(self, spark, st, tr) -> None:
        drift_src = f"{st['root']}/drift"
        os.makedirs(drift_src, exist_ok=True)
        shutil.copyfile(f"{self.dir}/drift.parquet",
                        f"{drift_src}/drift.parquet")
        t1 = time.perf_counter()
        with tr.span("index.retrain"):
            _drain(foreach_batch_auto_retrain(
                _stream(spark, drift_src), f"{st['root']}/index",
                st["corpus"], "vec_id", "embedding"),
                f"{st['root']}/ckpt_drift")
        st["retrain_ms"] = (time.perf_counter() - t1) * 1000.0
        st["retrains"] = ann_index.resolve_version(
            fsio.IndexFS(spark, f"{st['root']}/index"))

    def counters(self, st) -> dict:
        files = st["files"]
        return {
            "index.compactions": st.get("compactions", 0),
            "index.retrains": st.get("retrains", 0),
            "index.retrain_ms": st.get("retrain_ms", 0.0),
            "index.files_committed": sum(files) / len(files) if files else 0,
            # the timed absorbs only, not the set-up's
            "index.vectors_absorbed": (st["absorbed"] - 1) * gen.INDEX_BATCH,
        }

    def check(self, st) -> tuple[list[bool], bool]:
        """Each read-after-write serve (the set-up's first) against the
        registry's IVF-PQ oracle SQL over base plus the batches absorbed
        so far, quantizers frozen on the base: lossless absorption. After
        a drift batch: exactly one retrain cutover."""
        import duckdb

        from avk_job_skill_analytics_spark.registry.scale_common import (
            _ivfpq_sql,
        )

        con = duckdb.connect()
        ok = []
        for qids, n, served in st["results"]:
            srcs = [f"{self.dir}/base.parquet"] + [
                f"{self.dir}/batch_{b:04d}.parquet" for b in range(n)]
            con.execute("CREATE OR REPLACE VIEW embeddings AS SELECT * "
                        f"FROM read_parquet({srcs!r})")
            pred = f"vec_id IN ({', '.join(map(str, sorted(qids)))})"
            cols, rows = checks.duck_rows(con, _ivfpq_sql(
                8, 2, 8, 8, 8, 0, K,
                seed_pred=f"vec_id < {gen.INDEX_BASE}", q_pred=pred))
            want = _pairs([dict(zip(cols, r)) for r in rows],
                          "query_id", "neighbor_id", "adc_dist")
            got = _pairs(served, "query_id", "neighbor_id", "adc_dist")
            ok.append(all(got.get(q) == want.get(q) for q in qids))
        con.close()
        retrain_ok = "retrains" not in st or st["retrains"] == 1
        return ok[1:], ok[0] and retrain_ok
