"""The two closed-loop workloads (one client each) and their output checks.

Each workload drives the library only through its public functions and
times them from outside. ``setup`` loads the measured input and builds
its index or history; ``op`` is one timed operation; ``check`` validates
an op's output; ``quality`` scores all ops against the ground truth that
``inputs.py`` kept on the benchmark's side.

A workload is two lanes that share no data (batch dedup and stream
ingest; forest voting and PLAID). Set-up and ops run the lanes one after
the other. Only the untimed warm-up runs them in two threads, which
roughly halves its wall time: the cold first calls are mostly serial
driver work (planning, code generation, class loading). The stream lane
has no op: its two ``process_batch`` calls (into an empty store, then
against that history) are part of the set-up.

With tracing on, an op calls each layer under its own span and
materializes the layer's output there. ``text_dedup`` then runs the
layers of ``minhash_dedup`` one by one (its non-adaptive branch, the
default ``DedupConfig``), because a single call would hide them.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pandas as pd
from pyspark import InheritableThread
from pyspark.sql import functions as F

from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
from lsh_forest_for_multi_vector_retrieval_spark.operators.bands import (
    band_table,
    with_signatures,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.components import (
    connected_components,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import minhash_dedup
from lsh_forest_for_multi_vector_retrieval_spark.operators.forest_vote import (
    forest_vote_scores,
    get_top_k,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.pairs import candidate_pairs
from lsh_forest_for_multi_vector_retrieval_spark.operators.plaid import (
    build_centroids,
    plaid_topk,
)
from lsh_forest_for_multi_vector_retrieval_spark.operators.verify import verify_pairs
from lsh_forest_for_multi_vector_retrieval_spark.streaming.incremental import (
    IncrementalDedup,
)

from inputs import MIRROR_ID_OFFSET, RECIPES
from spans import Tracer

FOREST_K = 5
PLAID_K = 10


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Workload:
    name: str
    items_per_op: int

    def lanes(self) -> list[tuple]:
        """``(setup, op)`` callables of the independent lanes, in order;
        ``op`` is None for a lane that only sets up."""
        raise NotImplementedError

    def setup(self) -> None:
        for setup, _ in self.lanes():
            setup()

    def op(self, i: int) -> dict:
        out: dict = {}
        for _, op in self.lanes():
            if op is not None:
                out.update(op(i))
        self.tr.release()
        return out

    def warm_up(self, n_ops: int) -> None:
        """Set-up plus ``n_ops`` ops per lane, lanes in parallel threads.

        ``InheritableThread`` closes its JVM-side thread when done, so the
        thread's JVM locals retain nothing that shows in ``heap_live_mb``."""
        errors: list[Exception] = []

        def lane(setup, op):
            try:
                setup()
                for i in range(n_ops if op is not None else 0):
                    op(i)
            except Exception as e:  # re-raised in the calling thread
                errors.append(e)

        threads = [InheritableThread(target=lane, args=ln) for ln in self.lanes()]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        self.release()


class TextDedup(Workload):
    """Batch dedup of a fixed corpus per op; stream ingest at set-up."""

    name = "text_dedup"

    def __init__(self, spark, tracer: Tracer, inputs: Path, work: Path):
        self.spark, self.tr, self.inputs, self.work = spark, tracer, inputs, work
        self.truth = load_truth(inputs)
        self.recipe = RECIPES[self.name]
        self.cfg = DedupConfig()
        self.items_per_op = self.recipe["corpus_docs"]
        self.corpus = self.inc = None
        self.n_setups = 0
        self.ref_counts = None
        self.found_pairs: set = set()

    def _batch(self, k: int):
        return (self.spark.read.parquet(str(self.inputs / "stream.parquet"))
                .where(F.col("batch") == k).select("doc_id", "text"))

    def release(self) -> None:
        if self.corpus is not None:
            self.corpus.unpersist(blocking=True)

    def lanes(self):
        return [(self.setup_batch, self.op_batch), (self.setup_stream, None)]

    def setup_batch(self) -> None:
        """Load and persist the corpus."""
        self.release()
        self.corpus = self.spark.read.parquet(
            str(self.inputs / "corpus.parquet")).persist()
        self.corpus.count()

    def setup_stream(self) -> None:
        """Ingest the history docs into a fresh state dir, then one
        micro-batch against that history (the broadcast history probe)."""
        self.state = self.work / f"state{self.n_setups}"
        self.n_setups += 1
        shutil.rmtree(self.state, ignore_errors=True)
        self.inc = IncrementalDedup(str(self.state), self.cfg, spark=self.spark)
        for k, docs in enumerate((self.recipe["history_docs"],
                                  self.recipe["batch_docs"])):
            with self.tr.layer("incremental.process_batch") as sp:
                self.inc.process_batch(self._batch(k), k)
                sp.rows_out = docs

    def _dedup_layers(self):
        """``minhash_dedup``'s composition, one span per layer call."""
        cfg, layer = self.cfg, self.tr.layer
        with layer("bands.with_signatures") as sp:
            sigs = sp.materialize(with_signatures(
                self.corpus.select("doc_id", "text"), cfg,
            ).select("doc_id", "shingles", "sig", "simhash"))
        with layer("bands.band_table") as sp:
            bands = sp.materialize(
                band_table(sigs, cfg).select("band_id", "band_hash", "doc_id"))
        with layer("pairs.candidate_pairs") as sp:
            cands = sp.materialize(candidate_pairs(bands, cfg))
        with layer("verify.verify_pairs") as sp:
            verified = sp.materialize(
                verify_pairs(cands, sigs, cfg, materialize_pairs=False))
        with layer("components.connected_components") as sp:
            clusters = sp.materialize(connected_components(
                verified, all_vertices=sigs.select("doc_id"),
                max_iterations=cfg.cc_max_iterations))
        return clusters, verified

    def op_batch(self, i: int) -> dict:
        if self.tr.enabled:
            clusters, verified = self._dedup_layers()
            release = self.tr.release
        else:
            res = minhash_dedup(self.corpus, self.cfg)
            clusters, verified, release = res.clusters, res.verified, res.unpersist
        n_clusters = clusters.select("cluster_id").distinct().count()
        pairs = {(r.doc_a, r.doc_b)
                 for r in verified.select("doc_a", "doc_b").collect()}
        release()
        return {"n_clusters": n_clusters, "pairs": pairs}

    def check(self, i: int, out: dict) -> bool:
        """Cluster and pair counts must not change from op to op."""
        counts = (out["n_clusters"], len(out["pairs"]))
        if self.ref_counts is None:
            self.ref_counts = counts
            self.found_pairs = out["pairs"]
        return counts == self.ref_counts

    def quality(self) -> dict:
        """Recall of the planted pairs: in ``verified`` (batch) and in the
        stream store's ``pairs()``."""
        truth = self.truth
        planted = {tuple(p) for p in truth["corpus_pairs"]}
        batch_recall = len(planted & self.found_pairs) / max(len(planted), 1)
        s_planted = {tuple(p) for p in truth["stream_pairs"]}
        got = {(r.doc_a, r.doc_b) for r in
               self.inc.pairs(self.spark).select("doc_a", "doc_b").collect()}
        stream_recall = len(s_planted & got) / max(len(s_planted), 1)
        return {"quality": min(batch_recall, stream_recall),
                "batch_recall": batch_recall, "stream_recall": stream_recall,
                "state_bytes_per_doc": _dir_bytes(self.state)
                / (self.recipe["history_docs"] + self.recipe["batch_docs"])}


class Retrieval(Workload):
    """Forest-vote top-5 for mirror queries, then PLAID top-10, per op."""

    name = "retrieval"

    def __init__(self, spark, tracer: Tracer, inputs: Path, work: Path):
        self.spark, self.tr, self.inputs = spark, tracer, inputs
        self.top1 = load_truth(inputs)["plaid_top1"]
        q = pd.read_parquet(inputs / "forest_queries.parquet", columns=["op", "doc_id"])
        self.sources = {op: set(g["doc_id"]) for op, g in q.groupby("op")}
        self.recipe = RECIPES[self.name]
        self.cfg = DedupConfig()
        self.items_per_op = self.recipe["forest_queries"] + self.recipe["plaid_queries"]
        self.csig = self.vectors = self.cents = None
        self.forest_hits = self.forest_n = 0
        self.rr_sum = 0.0
        self.plaid_n = 0

    def _read(self, name: str):
        return self.spark.read.parquet(str(self.inputs / name))

    def release(self) -> None:
        for df in (self.csig, self.vectors, self.cents):
            if df is not None:
                df.unpersist(blocking=True)

    def lanes(self):
        return [(self.setup_forest, self.op_forest),
                (self.setup_plaid, self.op_plaid)]

    def setup_forest(self) -> None:
        """Sign and persist the forest corpus."""
        if self.csig is not None:
            self.csig.unpersist(blocking=True)
        with self.tr.layer("bands.with_signatures") as sp:
            self.csig = with_signatures(
                self._read("forest_docs.parquet"), self.cfg,
            ).select("doc_id", "shingles", "sig").persist()
            sp.rows_out = self.csig.count()

    def setup_plaid(self) -> None:
        """Persist the PLAID vectors and build their centroids."""
        for df in (self.vectors, self.cents):
            if df is not None:
                df.unpersist(blocking=True)
        self.vectors = self._read("plaid_docs.parquet").persist()
        self.vectors.count()
        with self.tr.layer("plaid.build_centroids") as sp:
            self.cents = build_centroids(self.vectors, k=32, seed=42).persist()
            sp.rows_out = self.cents.count()

    def op_forest(self, i: int) -> dict:
        layer = self.tr.layer
        queries = (self._read("forest_queries.parquet")
                   .where(F.col("op") == i).select("doc_id", "text"))
        with layer("bands.with_signatures") as sp:
            qsig = sp.materialize(with_signatures(queries, self.cfg)
                                  .select("doc_id", "shingles", "sig"))
        with layer("forest_vote.forest_vote_scores") as sp:
            scores = sp.materialize(forest_vote_scores(self.csig, qsig, self.cfg))
        with layer("forest_vote.get_top_k") as sp:
            # 6dp pre-rank rounding, as __spark_entry__.forest_vote_pipeline_from
            forest = get_top_k(scores.withColumn("score", F.round("score", 6)),
                               k=FOREST_K).select("query_id", "doc_id", "rank").collect()
            sp.rows_out = len(forest)
        return {"forest": forest}

    def op_plaid(self, i: int) -> dict:
        qvecs = (self._read("plaid_queries.parquet").where(F.col("op") == i)
                 .select("query_id", "vec_id", "embedding"))
        with self.tr.layer("plaid.plaid_topk") as sp:
            plaid = plaid_topk(
                self.vectors, qvecs, self.cents, k=PLAID_K, nprobe=16, t_cs=0.0,
                rerank=100, assignment="pandas", scoring="pandas",
            ).select("query_id", "doc_id", "rank").collect()
            sp.rows_out = len(plaid)
        return {"plaid": plaid}

    def check(self, i: int, out: dict) -> bool:
        """Every forest query gets 1..5 rows ranked 1..n (the planted
        corpus gives most queries fewer than 5 voters); every PLAID query
        gets exactly 10 rows ranked 1..10. Also accumulates quality."""
        r = self.recipe
        forest_q = self.sources[i]
        by_q: dict[int, list] = {}
        for row in out["forest"]:
            by_q.setdefault(row.query_id, []).append(row)
        ok = set(by_q) == forest_q and all(
            sorted(x.rank for x in rows) == list(range(1, len(rows) + 1))
            and len(rows) <= FOREST_K for rows in by_q.values())
        self.forest_hits += sum(
            any(x.doc_id == q - MIRROR_ID_OFFSET for x in rows)
            for q, rows in by_q.items())
        self.forest_n += r["forest_queries"]

        plaid_q: dict[int, list] = {}
        for row in out["plaid"]:
            plaid_q.setdefault(row.query_id, []).append(row)
        expect_q = set(range(i * r["plaid_queries"], (i + 1) * r["plaid_queries"]))
        ok = ok and set(plaid_q) == expect_q and all(
            sorted(x.rank for x in rows) == list(range(1, PLAID_K + 1))
            for rows in plaid_q.values())
        for q, rows in plaid_q.items():
            best = self.top1[str(q)]
            hit = [x.rank for x in rows if x.doc_id == best]
            self.rr_sum += 1.0 / min(hit) if hit else 0.0
        self.plaid_n += r["plaid_queries"]
        return ok

    def quality(self) -> dict:
        """Mean of the forest top-5 hit share (source doc of the mirror in
        its top 5) and PLAID MRR@10 against the exact max-sum top-1."""
        hit = self.forest_hits / max(self.forest_n, 1)
        mrr = self.rr_sum / max(self.plaid_n, 1)
        return {"quality": (hit + mrr) / 2, "forest_hit_share": hit,
                "plaid_mrr10": mrr}


WORKLOADS = {w.name: w for w in (TextDedup, Retrieval)}


def load_truth(inputs: Path) -> dict:
    return json.loads((inputs / "truth.json").read_text())
