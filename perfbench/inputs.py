"""Deterministic benchmark inputs, generated outside the measured process.

Each workload's inputs are a pure function of (recipe, seed). They are
written once to ``.perfbench_cache/inputs/<workload>-<fingerprint>/`` in
the checkout, where the fingerprint hashes the recipe, the seed and this
module's ``GENERATOR_VERSION``: a recipe change misses the cache instead
of silently reusing old inputs.

The library's own seeded generators (``sources.pages.generate_pages`` and
``sources.vectors.generate_embeddings``) produce the rows. Their per-row
pandas generator is captured and run in plain Python, so no Spark session
is needed here: every row depends only on (seed, id), so the rows are the
ones a Spark run of the same call would produce.

Ground truth (``true_cluster``, planted pairs, exact PLAID top-1) is kept
in ``truth.json`` and never reaches the library, which only receives
``(doc_id, text)`` or ``(doc_id, embedding)`` rows.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

GENERATOR_VERSION = 2

# bench.py's _CORPUS_RECIPE shape: clusters of 4 holding 10% of the docs,
# one exact copy per 10 clusters, 250-token docs, max_mutation 0.04
PAGES_SHAPE = {"cluster_size": 4, "clusters_div": 40, "exact_div": 10,
               "doc_len": 250, "max_mutation": 0.04}

RECIPES = {
    "text_dedup": {
        "corpus_docs": 400,  # minhash_dedup input
        "history_docs": 300,  # stream batch 0, into an empty store
        "batch_docs": 60,  # stream batch 1, against that history
        **PAGES_SHAPE,
    },
    "retrieval": {
        "forest_docs": 600,  # forest-vote corpus
        "forest_queries": 32,  # truncated mirror queries per op
        "plaid_docs": 300,  # 4 vectors each
        "plaid_queries": 60,  # 4-token queries per op
        "dim": 64,
        "tokens_per_doc": 4,
        **PAGES_SHAPE,
    },
}

# the engine's verification threshold (DedupConfig.jaccard_threshold): a
# planted pair counts when its exact Jaccard reaches it
JACCARD_THRESHOLD = 0.8
MIRROR_ID_OFFSET = 1_000_000


def lib_seed(seed: int, stream: int) -> int:
    """Map a benchmark seed to a generator seed. ``generate_pages`` seeds
    NumPy with ``seed * 13_000_003 + doc_id``, which must stay below 2**32,
    so generator seeds are kept under 300. ``stream`` separates the
    independent inputs of one workload."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return int.from_bytes(h[:4], "big") % 300


def fingerprint(workload: str, seed: int, n_ops: int) -> str:
    key = {"workload": workload, "seed": seed, "n_ops": n_ops,
           "recipe": RECIPES[workload], "version": GENERATOR_VERSION}
    return hashlib.md5(json.dumps(key, sort_keys=True).encode()).hexdigest()[:12]


class _CaptureRows:
    """Stands in for a SparkSession: ``generate_*`` builds
    ``spark.range(n).mapInPandas(gen, schema)``; this returns ``gen``."""

    def range(self, n, numPartitions=None):  # noqa: N803 - Spark's name
        return self

    def mapInPandas(self, fn, schema):  # noqa: N802 - Spark's name
        return fn


def _rows(gen, n: int) -> pd.DataFrame:
    return pd.concat(list(gen(iter([pd.DataFrame({"id": np.arange(n)})]))),
                     ignore_index=True)


def make_pages(n_docs: int, seed: int, shape: dict = PAGES_SHAPE) -> pd.DataFrame:
    """``(doc_id, text, true_cluster)`` from the library's page generator."""
    from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import (
        generate_pages,
    )

    n_clusters = n_docs // shape["clusters_div"]
    n_exact = n_clusters // shape["exact_div"]
    gen = generate_pages(
        _CaptureRows(),
        n_clusters=n_clusters,
        cluster_size=shape["cluster_size"],
        n_exact_dups=n_exact,
        n_singletons=n_docs - shape["cluster_size"] * n_clusters - n_exact,
        doc_len=shape["doc_len"],
        max_mutation=shape["max_mutation"],
        seed=seed,
    )
    return _rows(gen, n_docs)[["doc_id", "text", "true_cluster"]]


def make_embeddings(n_vectors: int, dim: int, seed: int) -> np.ndarray:
    from lsh_forest_for_multi_vector_retrieval_spark.sources.vectors import (
        generate_embeddings,
    )

    gen = generate_embeddings(_CaptureRows(), n_base=n_vectors, n_dup_pairs=0,
                              dim=dim, seed=seed)
    rows = _rows(gen, n_vectors).sort_values("vec_id")
    return np.stack(rows["embedding"].to_numpy()).astype(np.float32)


def planted_pairs(pages: pd.DataFrame) -> list[tuple[int, int]]:
    """Same-cluster pairs whose exact shingle Jaccard reaches the engine's
    threshold, by the library's brute-force oracle. Docs of different
    planted clusters are independent random token streams, far below the
    threshold, so only same-cluster pairs are compared."""
    from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import (
        true_dup_pairs_oracle,
    )

    out: set = set()
    for _, grp in pages.groupby("true_cluster"):
        if len(grp) > 1:
            out |= true_dup_pairs_oracle(grp, threshold=JACCARD_THRESHOLD)
    return sorted(out)


def exact_top1(query_vecs: np.ndarray, query_ids: np.ndarray,
               doc_vecs: np.ndarray, doc_ids: np.ndarray) -> dict[int, int]:
    """Exact max-sum-interaction top-1 doc per query, ties to the lowest
    doc_id (``bench.run_plaid``'s NumPy oracle)."""
    s = query_vecs.astype(np.float64) @ doc_vecs.astype(np.float64).T
    udocs = np.unique(doc_ids)
    per_doc = np.stack([s[:, doc_ids == d].max(axis=1) for d in udocs], axis=1)
    best = {}
    for q in np.unique(query_ids):
        tot = per_doc[query_ids == q].sum(axis=0)
        best[int(q)] = int(udocs[tot >= tot.max()].min())
    return best


def _write_text_dedup(out: Path, seed: int, n_ops: int) -> dict:
    r = RECIPES["text_dedup"]
    corpus = make_pages(r["corpus_docs"], lib_seed(seed, 0))
    corpus[["doc_id", "text"]].to_parquet(out / "corpus.parquet", index=False)

    n_stream = r["history_docs"] + r["batch_docs"]
    stream = make_pages(n_stream, lib_seed(seed, 1))
    # seeded shuffle: duplicate families span the history and the batch
    order = np.random.default_rng(lib_seed(seed, 2)).permutation(n_stream)
    stream = stream.iloc[order].reset_index(drop=True)
    stream["batch"] = (np.arange(n_stream) >= r["history_docs"]).astype(np.int64)
    stream[["doc_id", "text", "batch"]].to_parquet(out / "stream.parquet",
                                                   index=False)
    return {
        "corpus_pairs": planted_pairs(corpus),
        "stream_pairs": planted_pairs(stream),
    }


def _write_retrieval(out: Path, seed: int, n_ops: int) -> dict:
    r = RECIPES["retrieval"]
    rng = np.random.default_rng(lib_seed(seed, 2))

    docs = make_pages(r["forest_docs"], lib_seed(seed, 0))
    docs[["doc_id", "text"]].to_parquet(out / "forest_docs.parquet", index=False)
    # truncated mirrors, the shape of __spark_entry__.forest_vote_pipeline_from
    rows = []
    for op in range(n_ops):
        picks = rng.choice(r["forest_docs"], r["forest_queries"], replace=False)
        for d in sorted(picks):
            text = docs.at[int(d), "text"]
            rows.append((op, int(d) + MIRROR_ID_OFFSET,
                         text[:max(len(text) - 25, 40)]))
    pd.DataFrame(rows, columns=["op", "doc_id", "text"]).to_parquet(
        out / "forest_queries.parquet", index=False)

    tpd = r["tokens_per_doc"]
    vecs = make_embeddings(r["plaid_docs"] * tpd, r["dim"], lib_seed(seed, 1))
    doc_ids = np.arange(len(vecs)) // tpd
    pd.DataFrame({"doc_id": doc_ids, "embedding": list(vecs)}).to_parquet(
        out / "plaid_docs.parquet", index=False)
    n_tok = r["plaid_queries"] * 4
    q_rows, top1 = [], {}
    for op in range(n_ops):
        refs = rng.integers(0, len(vecs), n_tok)
        qid = op * r["plaid_queries"] + np.arange(n_tok) // 4
        qv = vecs[refs]
        top1.update(exact_top1(qv, qid, vecs, doc_ids))
        q_rows.append(pd.DataFrame({
            "op": op, "query_id": qid,
            "vec_id": op * n_tok + np.arange(n_tok), "embedding": list(qv),
        }))
    pd.concat(q_rows, ignore_index=True).to_parquet(
        out / "plaid_queries.parquet", index=False)
    return {"plaid_top1": {str(k): v for k, v in sorted(top1.items())}}


WRITERS = {"text_dedup": _write_text_dedup, "retrieval": _write_retrieval}


def ensure_inputs(cache: Path, workload: str, seed: int, n_ops: int) -> Path:
    """Return the input dir, generating it if the cache misses. The dir is
    filled under a temporary name and renamed, so a killed run never
    leaves a half-written cache entry behind."""
    final = cache / f"{workload}-{fingerprint(workload, seed, n_ops)}"
    if (final / "truth.json").exists():
        return final
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    truth = WRITERS[workload](tmp, seed, n_ops)
    truth["recipe"] = RECIPES[workload]
    truth["seed"] = seed
    (tmp / "truth.json").write_text(json.dumps(truth))
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    return final
