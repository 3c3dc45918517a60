"""The benchmark's workloads.  Each drives the library's public functions
from one closed-loop client: the next op starts when the previous one
has returned and been checked.

An op's wall time covers only the library calls; its output check runs
after the clock stops.  A failed check is returned as a message and
counts as a failed op.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import gen

import pyspark.sql.functions as F
from pyspark.sql import Observation

from newsflow.tables import load_table, spread


class Workload:
    """One workload: its inputs, set-up, ops and output checks.

    ``kinds`` names the op types.  ``latency_kind`` is the op behind the
    ``op_p50_s`` metric and ``ingest_kind`` the op behind ``ingest_per_s``
    (items it completes per second of its own wall time).  ``min_ops``
    gives the timed ops a kind gets even when they overrun the window
    (default 1)."""

    name = ""
    kinds: tuple[str, ...] = ()
    latency_kind = ""
    ingest_kind = ""
    min_ops: dict[str, int] = {}

    def __init__(self, seed: int, work_dir: str, tracer, scale: float = 1.0):
        self.seed = seed
        self.work = work_dir
        self.sf_dir = os.path.join(work_dir, "sf")
        self.tracer = tracer
        self.scale = scale

    def load(self, spark, table: str):
        with self.tracer.span("tables.load_table"):
            df = load_table(spark, self.sf_dir, table)
        with self.tracer.span("tables.spread"):
            return spread(df)

    # Subclasses define: inputs() -> dict, generate(), prepare(spark),
    # warmup_plan() -> [(kind, kwargs)], schedule() -> endless iterator
    # of (kind, kwargs), run(spark, kind, **kwargs) -> (wall_s, items,
    # failure or None),
    # wrap_library(), extra_layers(spark) -> dict and
    # named_metrics(samples) -> dict.


# --- curate ---------------------------------------------------------------


_STAGES = (
    "0_total",
    "1_quality_lang",
    "2_exact_dedup",
    "3_near_dup",
    "4_dsir_selected",
    "5_packed",
)


class Curate(Workload):
    """One op is one pass of the curation funnel
    (`pipeline.corpus_pipeline_e2e`) over the generated corpus,
    materialised with the noop writer.

    The corpus is a tenth of sf0.1's 5000 documents.  A pass runs the
    same 36 Spark jobs at either size, but at 5000 documents it takes
    about 9 s instead of 3.5 s on a 4-vCPU host, which leaves one or two
    timed passes per run instead of four or five.  At 500 documents
    about 45% of a pass is driver time outside any job (18% at 5000),
    and shuffles are a tenth as large (see README)."""

    name = "curate"
    kinds = ("pass",)
    latency_kind = ingest_kind = "pass"
    N_DOCS = 500
    NEAR_DUP_FRAC = 0.10
    EXACT_DUP_FRAC = 0.005

    @property
    def n_docs(self) -> int:
        return max(50, int(self.N_DOCS * self.scale))

    def inputs(self) -> dict:
        return {
            "docs": self.n_docs,
            "near_dup_frac": self.NEAR_DUP_FRAC,
            "exact_dup_frac": self.EXACT_DUP_FRAC,
        }

    def generate(self) -> None:
        gen.write_table(
            gen.documents(
                self.seed, self.n_docs, self.NEAR_DUP_FRAC, self.EXACT_DUP_FRAC
            ),
            self.sf_dir,
            "documents",
        )

    def prepare(self, spark) -> None:
        """The funnel's expected stage counts, from the registered DuckDB
        oracle of `corpus_pipeline_e2e` over the same files."""
        import duckdb

        from newsflow import registry

        oracle = registry.all_specs()["corpus_pipeline_e2e"].oracle
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{self.sf_dir}/documents.parquet')"
            )
            rows = con.execute(oracle).fetchall()
        finally:
            con.close()
        self.expected = {r[0]: (int(r[1]), int(r[2])) for r in rows}

    def warmup_plan(self) -> list:
        # Two passes: after one, the timed passes still sit on the steep
        # part of the JVM's warming curve (ten seeds: spread 0.22 of the
        # median with one warm-up pass, 0.10 with two).
        return [("pass", {}), ("pass", {})]

    def schedule(self):
        while True:
            yield "pass", {}

    def run(self, spark, kind: str, **_):
        from newsflow.pipeline import corpus_pipeline_e2e

        obs = Observation("funnel")
        t0 = time.perf_counter()
        with self.tracer.span("op.pass"):
            with self.tracer.span("pipeline.corpus_pipeline_e2e.build"):
                df = corpus_pipeline_e2e(spark, self.sf_dir)
            # The stage counts ride on the write as observed metrics, so
            # checking them needs no second execution.
            df = df.observe(
                obs,
                *[
                    F.sum(F.when(F.col("stage") == st, F.col(c))).alias(
                        f"{st}.{c}"
                    )
                    for st in _STAGES
                    for c in ("docs", "tokens")
                ],
            )
            with self.tracer.span("pipeline.corpus_pipeline_e2e.action"):
                df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        got = obs.get
        got = {st: (got[f"{st}.docs"], got[f"{st}.tokens"]) for st in _STAGES}
        failure = None
        if got != self.expected:
            failure = f"funnel {got} != oracle {self.expected}"
        return wall, self.n_docs, failure

    def extra_layers(self, spark) -> dict:
        """Traced runs only: the funnel's layers called in isolation on
        the same corpus, each materialised once, plus the minhash
        useful-to-attempted ratio."""
        from newsflow.curation import curate
        from newsflow.dedup.core import doc_shingle_arrays
        from newsflow.dedup.minhash import (
            native_minhash_candidates,
            native_minhash_near_dup_pairs,
        )
        from newsflow.packing import ffd_pack_docs
        from newsflow.selection import dsir_importance_weights

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        docs = self.load(spark, "documents")
        with self.tracer.span("curation.curate"):
            noop(curate(docs, spark))
        with self.tracer.span("dedup.minhash.native_minhash_near_dup_pairs"):
            verified = native_minhash_near_dup_pairs(docs).count()
        with self.tracer.span("dedup.minhash.native_minhash_candidates"):
            cands = native_minhash_candidates(doc_shingle_arrays(docs, 3)).count()
        with self.tracer.span("selection.dsir_importance_weights"):
            noop(dsir_importance_weights(spark, self.sf_dir))
        with self.tracer.span("packing.ffd_pack_docs"):
            noop(ffd_pack_docs(docs))
        return {
            "dedup.minhash.verified_per_candidate": verified / max(cands, 1),
            "dedup.minhash.candidate_pairs": cands,
            "dedup.minhash.verified_pairs": verified,
        }

    def wrap_library(self) -> None:
        import newsflow.pipeline as pipeline

        self.tracer.wrap(pipeline, "load_table", "tables.load_table")
        self.tracer.wrap(pipeline, "spread", "tables.spread")

    def named_metrics(self, samples: dict) -> dict:
        # Docs per second is throughput: the same passes as the median,
        # but a mean, so one slow pass moves it where the median hides it.
        walls = samples["pass"]
        return {
            "curate_pass_p50_s": _timing(walls, "s"),
            "curate_docs_per_s": {
                "value": self.n_docs * len(walls) / sum(walls),
                "unit": "docs/s",
                "n": len(walls),
            },
        }


# --- index ----------------------------------------------------------------


class Index(Workload):
    """A persisted ANN index (vector store, bucketed NSW graph, OPQ
    codes) seeded in set-up; the client then interleaves search requests
    and ingest micro-batches against it in a seeded order."""

    name = "index"
    kinds = ("search", "insert")
    latency_kind = "search"
    ingest_kind = "insert"
    # A search takes 3-6 s and an insert 4.5-8 s on a 4-vCPU host, so a
    # 16 s window alone would hold one to three searches and one or two
    # inserts, their number set by host speed and by the seeded order.
    # Every run times at least two searches and two inserts instead (two
    # seeded search/insert pairs, 16-28 s), so each metric rests on the
    # same sample count on every run.
    min_ops = {"search": 2, "insert": 2}
    # The library's own search slice (`sim.nsw.GRAPH_MAX_VEC_ID`), with
    # its 8-query batches: a search runs about 80 Spark jobs and an
    # insert about 80, as at sf0.1.
    BASE = 400
    QUERY_BATCH = 8
    QUERY_BATCHES = 8
    INSERT_BATCH = 16
    MAX_INSERTS = 64
    SEARCHES_PER_INSERT = 1
    TOP_K = 10

    @property
    def base(self) -> int:
        return max(64, int(self.BASE * self.scale))

    def inputs(self) -> dict:
        return {
            "base_vectors": self.base,
            "query_batch": self.QUERY_BATCH,
            "query_batches": self.QUERY_BATCHES,
            "insert_batch": self.INSERT_BATCH,
            "search_to_insert": f"{self.SEARCHES_PER_INSERT}:1",
            "top_k": self.TOP_K,
        }

    def _query_lo(self) -> int:
        return self.base

    def _insert_lo(self, batch_id: int) -> int:
        return (
            self.base
            + self.QUERY_BATCH * self.QUERY_BATCHES
            + self.INSERT_BATCH * batch_id
        )

    def generate(self) -> None:
        n = self._insert_lo(self.MAX_INSERTS)
        table = gen.embeddings(self.seed, n)
        gen.write_table(table, self.sf_dir, "embeddings")
        vecs = np.stack(table.column("embedding").to_numpy(zero_copy_only=False))
        vecs = vecs.astype(np.float64)
        self.units = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)

    def prepare(self, spark) -> None:
        from newsflow.sim.opq import opq_fit
        from newsflow.streaming.ingest import ann_index_init

        self.index_dir = os.path.join(self.work, "index")
        shutil.rmtree(self.index_dir, ignore_errors=True)
        self.paths = {
            k: os.path.join(self.index_dir, k) for k in ("vectors", "graph", "codes")
        }
        base = (
            self.load(spark, "embeddings")
            .filter(F.col("vec_id") < self.base)
            .select("vec_id", "embedding")
        )
        with self.tracer.span("streaming.ingest.ann_index_init"):
            ann_index_init(
                spark,
                base,
                vectors_path=self.paths["vectors"],
                graph_path=self.paths["graph"],
            )
        with self.tracer.span("sim.opq.opq_fit"):
            _, self.books, self.perm = opq_fit(base)
        self.stored = set(range(self.base))
        self.next_batch = 0
        self.version = 0
        self.seen: dict[tuple[int, int], list] = {}
        self.recalls: list[float] = []
        self.storage: list[dict] = []
        self.rng = random.Random(self.seed)

    def warmup_plan(self) -> list:
        # The insert first, so that every timed search comes after one;
        # then the same batch twice at the same index version: the search
        # must return the same beam both times.  The second search also
        # moves the timed ones further along the JVM's warming curve:
        # timed right after a single warm-up search, it was the slowest
        # of a run's three searches on 16 of 20 runs (two ten-seed sets).
        return [("insert", {}), ("search", {"batch": 0}), ("search", {"batch": 0})]

    def schedule(self):
        # One search per insert, in a seeded order within each pair.  The
        # ratio is an assumption, not a measured serving mix.
        while True:
            block = ["search"] * self.SEARCHES_PER_INSERT + ["insert"]
            self.rng.shuffle(block)
            for kind in block:
                yield kind, {}

    def run(self, spark, kind: str, batch: int | None = None):
        if kind == "search":
            if batch is None:
                batch = self.rng.randrange(self.QUERY_BATCHES)
            return self._search(spark, batch)
        return self._insert(spark)

    def _search(self, spark, batch: int):
        from newsflow.sim.nsw import nsw_search_df, read_graph_edges
        from newsflow.sim.pq import _unit

        lo = self._query_lo() + batch * self.QUERY_BATCH
        t0 = time.perf_counter()
        with self.tracer.span("op.search"):
            emb = self.load(spark, "embeddings")
            queries = _unit(
                emb.filter(
                    (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + self.QUERY_BATCH)
                ),
                "query_id",
            )
            units = _unit(spark.read.parquet(self.paths["vectors"]), "vec_id")
            edges = read_graph_edges(spark, self.paths["graph"])
            with self.tracer.span("sim.nsw.nsw_search_df"):
                beam = nsw_search_df(units, edges, queries)
            with self.tracer.span("sim.nsw.nsw_search_df.collect"):
                rows = beam.filter(F.col("rank") <= self.TOP_K).collect()
        wall = time.perf_counter() - t0
        return wall, self.QUERY_BATCH, self._check_search(batch, lo, rows)

    def _check_search(self, batch: int, lo: int, rows) -> str | None:
        got = sorted((r["query_id"], r["rank"], r["node"], r["sim"]) for r in rows)
        key = (batch, self.version)
        if key in self.seen and self.seen[key] != got:
            return f"search batch {batch} changed at index version {self.version}"
        self.seen[key] = got
        stored = np.array(sorted(self.stored))
        recalls = []
        for q in range(lo, lo + self.QUERY_BATCH):
            res = [g for g in got if g[0] == q]
            if [g[1] for g in res] != list(range(1, self.TOP_K + 1)):
                return f"query {q}: ranks {[g[1] for g in res]}"
            nodes = [g[2] for g in res]
            if not set(nodes) <= self.stored:
                return f"query {q}: result outside the stored vectors"
            sims = self.units[nodes] @ self.units[q]
            if np.max(np.abs(sims - np.array([g[3] for g in res]))) > 1e-5:
                return f"query {q}: similarities differ from the exact cosine"
            exact = stored[np.argsort(-(self.units[stored] @ self.units[q]))]
            recalls.append(len(set(nodes) & set(exact[: self.TOP_K].tolist())))
        self.recalls.append(sum(recalls) / (self.TOP_K * len(recalls)))
        return None

    def _insert(self, spark):
        from newsflow.streaming.ingest import ann_index_apply_batch

        batch_id = self.next_batch
        if batch_id >= self.MAX_INSERTS:
            raise RuntimeError("insert pool exhausted; raise MAX_INSERTS")
        lo = self._insert_lo(batch_id)
        before = _listing(self.index_dir)
        t0 = time.perf_counter()
        with self.tracer.span("op.insert"):
            emb = self.load(spark, "embeddings")
            new = emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + self.INSERT_BATCH)
            )
            with self.tracer.span("streaming.ingest.ann_index_apply_batch"):
                ann_index_apply_batch(
                    spark,
                    new,
                    batch_id,
                    vectors_path=self.paths["vectors"],
                    graph_path=self.paths["graph"],
                    codes_path=self.paths["codes"],
                    pq_codebooks=self.books,
                    pq_perm=self.perm,
                )
        wall = time.perf_counter() - t0
        self.next_batch += 1
        self.version += 1
        self.stored.update(range(lo, lo + self.INSERT_BATCH))
        self._record_storage(before, _listing(self.index_dir))
        return wall, self.INSERT_BATCH, self._check_graph(batch_id)

    def _check_graph(self, batch_id: int) -> str | None:
        """Every stored vector is a src, degree <= GRAPH_M, no self or
        duplicate edges, and the store and code table hold exactly what
        was ingested."""
        from newsflow.sim.nsw import GRAPH_M

        ids = set(pq.read_table(self.paths["vectors"], columns=["vec_id"])
                  .column("vec_id").to_pylist())
        if ids != self.stored:
            return f"vector store holds {len(ids)} ids, expected {len(self.stored)}"
        codes = pq.read_table(
            os.path.join(self.paths["codes"], f"batch={batch_id}"), columns=["vec_id"]
        )
        if codes.num_rows != self.INSERT_BATCH:
            return f"code table batch {batch_id} has {codes.num_rows} rows"
        g = pq.read_table(self.paths["graph"], columns=["src", "dst"])
        src = g.column("src").to_numpy()
        dst = g.column("dst").to_numpy()
        if set(src.tolist()) != self.stored:
            return "graph src set differs from the stored vectors"
        if np.any(src == dst):
            return "graph has a self edge"
        pairs = src * (1 << 32) + dst
        if len(np.unique(pairs)) != len(pairs):
            return "graph has a duplicate edge"
        if np.bincount(src).max() > GRAPH_M:
            return f"graph degree above {GRAPH_M}"
        return None

    def _record_storage(self, before: dict, after: dict) -> None:
        graph = self.paths["graph"]
        buckets = {os.path.dirname(p) for p in after if p.startswith(graph + "/bucket=")}
        changed = {
            os.path.dirname(p)
            for p in set(before) ^ set(after)
            if p.startswith(graph + "/bucket=")
        } | {
            os.path.dirname(p)
            for p in set(before) & set(after)
            if p.startswith(graph + "/bucket=") and before[p] != after[p]
        }
        self.storage.append(
            {
                "bytes_added": _bytes(after) - _bytes(before),
                "buckets_rewritten_ratio": len(changed & buckets) / max(len(buckets), 1),
                "index_bytes": _bytes(after),
            }
        )

    def extra_layers(self, spark) -> dict:
        out = {}
        if self.storage:
            out["storage.bytes_written_per_vec"] = sum(
                s["bytes_added"] for s in self.storage
            ) / (self.INSERT_BATCH * len(self.storage))
            out["storage.buckets_rewritten_ratio"] = float(
                np.median([s["buckets_rewritten_ratio"] for s in self.storage])
            )
            out["storage.index_mb"] = self.storage[-1]["index_bytes"] / 1e6
        if self.recalls:
            out["sim.nsw.nsw_search_df.recall_at_10"] = float(np.mean(self.recalls))
        return out

    def wrap_library(self) -> None:
        import newsflow.sim.nsw as nsw

        for attr in (
            "nsw_insert_delta",
            "validate_graph_buckets",
            "read_graph_edges",
            "overwrite_touched_graph_buckets",
        ):
            self.tracer.wrap(nsw, attr, f"sim.nsw.{attr}")

    def named_metrics(self, samples: dict) -> dict:
        out = {
            "search_p50_s": _timing(samples["search"], "s"),
            "insert_p50_s": _timing(samples["insert"], "s"),
            "ingest_vecs_per_s": {
                "value": self.INSERT_BATCH * len(samples["insert"]) / sum(samples["insert"]),
                "unit": "vec/s",
                "n": len(samples["insert"]),
            },
        }
        if self.recalls:
            out["search_recall_at_10"] = {
                "value": float(np.mean(self.recalls)),
                "unit": "ratio",
                "n": len(self.recalls),
            }
        return out


def _listing(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every data file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _bytes(listing: dict) -> int:
    return sum(size for size, _ in listing.values())


def _timing(values: list[float], unit: str) -> dict:
    """Median with its sample count, plus the highest percentile that
    has at least ten samples beyond it, when there is one."""
    vs = sorted(values)
    out = {"value": float(np.median(vs)), "unit": unit, "n": len(vs)}
    for pct in (99, 95, 90):
        if len(vs) * (100 - pct) / 100 >= 10:
            out[f"p{pct}"] = float(np.percentile(vs, pct))
            break
    return out


WORKLOADS = {w.name: w for w in (Curate, Index)}
