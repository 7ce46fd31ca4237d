"""Benchmark driver.

Default mode: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; print ONE JSON line
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

--scaling: the north_rule's two-cluster-size criterion, sandbox stand-in —
run the identical flagship dedup job at local[8] and local[32] on the same
deterministic 40k-doc corpus (fresh JVM per parallelism level, spawned as
subprocesses) and report docs/sec at both plus scaling efficiency
(T8/T32)/(32/8). Results land in BENCH_SCALING.json and are summarized in
BASELINE.md.

--single-run N: internal helper for --scaling (one measurement at local[N]).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# 40k docs ≈ minutes-long jobs at both parallelism levels — long enough to
# saturate the cores, short enough for interleaved A/B rounds to finish
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "40000"))

# generation-recipe fingerprint in the default cache path: a recipe or
# size change must MISS the cache, or before/after bench comparisons
# silently measure different inputs (round-5 review; the old key was
# BENCH_DOCS//1000, so 40500 reused the 40000 corpus). Keep every knob
# of _ensure_bench_corpus's generate_pages call in this dict.
_CORPUS_RECIPE = {
    "n_docs": BENCH_DOCS,
    "cluster_size": 4,
    "clusters_div": 40,
    "exact_div": 10,
    "doc_len": 250,
    "max_mutation": 0.04,
    "seed": 42,
}
_RECIPE_FP = hashlib.md5(
    json.dumps(_CORPUS_RECIPE, sort_keys=True).encode()
).hexdigest()[:10]
BENCH_CORPUS = os.environ.get(
    "SPARK_GRAFT_BENCH_CORPUS",
    f"/tmp/spark_graft_bench/pages_{BENCH_DOCS}_{_RECIPE_FP}.parquet",
)


def _child_pythonpath() -> str:
    """Repo root PREPENDED to any inherited PYTHONPATH — clobbering it
    breaks environments that reach pyspark via PYTHONPATH (the standard
    SPARK_HOME distribution layout) and every subprocess then dies on
    `import pyspark` (round-5 review)."""
    inherited = os.environ.get("PYTHONPATH", "")
    root = str(Path(__file__).resolve().parent)
    return f"{root}{os.pathsep}{inherited}" if inherited else root


def _spark(cpus: int, shuffle_partitions: int | None = None):
    from lsh_forest_for_multi_vector_retrieval_spark.session import get_spark

    return get_spark(
        app_name="lshforest-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=shuffle_partitions or cpus,
        driver_memory="48g",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _ensure_bench_corpus(spark) -> str:
    """Deterministic planted-dup corpus (seed 42) for the scaling runs —
    byte-identical regardless of parallelism (per-row seeding)."""
    p = Path(BENCH_CORPUS)
    if (p / "_SUCCESS").exists():
        return str(p)
    from lsh_forest_for_multi_vector_retrieval_spark.sources.pages import generate_pages

    n_clusters = BENCH_DOCS // 40  # 10% of docs in dup clusters of 4
    df = generate_pages(
        spark,
        n_clusters=n_clusters,
        cluster_size=4,
        n_exact_dups=n_clusters // 10,
        n_singletons=BENCH_DOCS - 4 * n_clusters - n_clusters // 10,
        doc_len=250,
        max_mutation=0.04,  # variants stay above the 0.8 Jaccard threshold
        seed=42,
        partitions=64,
    ).select("doc_id", "text")
    df.write.mode("overwrite").parquet(str(p))
    return str(p)


def _flagship(spark, docs):
    """The end-to-end dedup job used for both headline and scaling runs."""
    from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig
    from lsh_forest_for_multi_vector_retrieval_spark.operators.dedup import minhash_dedup

    res = minhash_dedup(docs, DedupConfig())
    n_clusters = res.clusters.select("cluster_id").distinct().count()
    n_pairs = res.verified.count()
    res.unpersist()  # DedupResult.unpersist is blocking (round-3 VERDICT #1)
    return n_clusters, n_pairs


def run_plaid(spark, reps: int = 2, compute_mrr: bool = True) -> dict:
    """PLAID bench row: 500-query amortized q/s + MRR@10 on the SF_DIR
    embeddings (2,000 vectors -> 500 4-token docs at sf0.1), scored
    against the EXACT max-sum-interaction top-1 (the reference reports
    18.5 q/s / MRR 0.2997 on MS MARCO with a GPU encoder — BASELINE.md).
    Measured here (local[32], quiet window): ~35 q/s at MRR 0.55."""
    from pyspark.sql import functions as F

    from lsh_forest_for_multi_vector_retrieval_spark.operators.metrics import mrr_at_k
    from lsh_forest_for_multi_vector_retrieval_spark.operators.plaid import (
        build_centroids,
        plaid_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    docs = emb.select((F.col("vec_id") / 4).cast("long").alias("doc_id"), "embedding")
    # 500 SYNTHETIC 4-token queries (round-3 VERDICT #7): the old 25-query
    # run measured per-job scheduling overhead, not throughput. Each query
    # token references a deterministic Knuth-hash pick from the corpus
    # vectors, so the load amortizes fixed cost over 2,000 token lookups
    # while the exact max-sum-interaction oracle stays computable.
    n_q = int(os.environ.get("SPARK_GRAFT_PLAID_QUERIES", "500"))
    n_vecs = emb.count()
    corpus = docs.persist()
    queries = (
        spark.range(n_q * 4)
        .select(
            (F.col("id") / 4).cast("long").alias("query_id"),
            F.col("id").alias("vec_id"),
            ((F.col("id") * F.lit(2654435761)) % F.lit(n_vecs)).alias("ref"),
        )
        .join(
            emb.select(F.col("vec_id").alias("ref"), "embedding"), "ref"
        )
        .drop("ref")
        .persist()
    )
    corpus.count(), queries.count()

    # nprobe=16/32 centroids + rerank=100: the fixture embeddings are
    # unstructured (true top-1 sits at cosine ~0.3), so narrow probing
    # collapses MRR — measured sweep: nprobe=4/t_cs=0.2/rerank=20 -> MRR
    # 0.20; nprobe=16/t_cs=0/rerank=100 -> 0.56 at equal-or-lower wall
    cents = build_centroids(corpus, k=32, seed=42)
    wall = float("inf")
    for _ in range(reps):  # best-of-reps: rep 1 absorbs JIT/plan compile
        t0 = time.perf_counter()
        res = plaid_topk(
            corpus, queries, cents, k=10, nprobe=16, t_cs=0.0, rerank=100,
            assignment="pandas", scoring="pandas",  # production kernels
        ).localCheckpoint(eager=True)
        wall = min(wall, time.perf_counter() - t0)

    mrr = None
    if compute_mrr:
        # Exact oracle: true top-1 doc by max-sum interaction over real
        # vectors. UNCOUNTED (quality gate, not a timed row), so it runs
        # driver-side in NumPy: at bench scale the corpus is ~2k x 64
        # floats (~1 MB) and the whole q_tok x d_tok score matrix is ONE
        # matmul — the previous distributed 4M-row crossJoin (interpreted
        # fold or Arrow round-trip) dominated the bench's wall clock on
        # 1-2 input partitions while the timed rows sat idle.
        import numpy as np

        _log("plaid: computing exact-MRR oracle (driver-side NumPy)")
        q_rows = queries.select("query_id", "embedding").collect()
        d_rows = corpus.select("doc_id", "embedding").collect()
        qm = np.asarray([r.embedding for r in q_rows], dtype=np.float64)
        dm = np.asarray([r.embedding for r in d_rows], dtype=np.float64)
        qid = np.asarray([r.query_id for r in q_rows])
        did = np.asarray([r.doc_id for r in d_rows])
        s = qm @ dm.T  # q_tok x d_tok dots
        # max over each doc's tokens, then sum over each query's tokens
        doc_ids = np.unique(did)
        per_doc = np.stack(
            [s[:, did == d].max(axis=1) for d in doc_ids], axis=1
        )  # q_tok x doc
        query_ids = np.unique(qid)
        rel_rows = []
        for q in query_ids:
            tot = per_doc[qid == q].sum(axis=0)  # sum over query tokens
            best = tot.max()
            # ties broken toward the lowest doc_id (matches the SQL oracle)
            rel_rows.append((int(q), int(doc_ids[tot >= best].min())))
        rel = spark.createDataFrame(rel_rows, "query_id long, doc_id long")
        mrr = round(
            mrr_at_k(res, rel, k=10, query_col="query_id", item_col="doc_id"), 4
        )
    corpus.unpersist(blocking=True)
    queries.unpersist(blocking=True)
    return {
        "plaid_sec": round(wall, 3),
        "plaid_qps": round(n_q / wall, 1),
        "plaid_mrr10_vs_exact_top1": mrr,
        "plaid_n_queries": n_q,
    }


def _delivery_probe(n_procs: int) -> float:
    """Deliverable-CPU probe (summed, long-quantum — same design as
    tools/scaling_paired.py): how many of ``n_procs`` cores the
    hypervisor is actually delivering right now.  Recorded in the bench
    artifact so a throttled-window sample is self-describing instead of
    reading as an engine regression (round-3 VERDICT "What's wrong" #1:
    the committed BENCH_r03.json was a throttle-window sample and could
    only be diagnosed by out-of-band reruns)."""
    import multiprocessing as mp

    # min-of-2 single-core baseline — the SAME kernel the pool workers
    # run, so a calibration change can never desynchronize the baseline
    # from the workers and skew every probe ratio (round-5 review)
    base = min(_spin_worker(30_000_000), _spin_worker(30_000_000))
    with mp.Pool(n_procs) as pool:
        times = pool.map(_spin_worker, [30_000_000] * n_procs)
    return round(sum(base / t for t in times), 2)


def _spin_worker(reps: int) -> float:
    t0 = time.perf_counter()
    x = 1.0
    for _ in range(reps):
        x = (x * 1.000001) % 97.0
    return time.perf_counter() - t0


def _log(msg: str) -> None:
    """Progress note to stderr (stdout carries the one JSON line): a
    stalled or patience-looping bench must be diagnosable from its log."""
    print(f"[bench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _delivery_probe_subproc(n_procs: int) -> float:
    """Run the delivery probe in a FRESH python subprocess. Forking a
    JVM-attached PySpark driver (mp.Pool inside run_headline) can deadlock
    in the child — observed as a bench hang with both the JVM and the
    driver near-idle; a clean interpreter has nothing to inherit."""
    for attempt in (1, 2):  # one retry absorbs a transient (fork/OOM) blip
        proc = subprocess.run(
            [sys.executable, __file__, "--probe", str(n_procs)],
            capture_output=True, text=True,
            env={**os.environ, "PYTHONPATH": _child_pythonpath()},
        )
        if proc.returncode == 0:
            for line in reversed(proc.stdout.splitlines()):
                try:
                    return float(line.strip())
                except ValueError:
                    continue
        # A crashed probe must be LOUD, not read as a throttled window:
        # returning the old 0.0 sentinel made _wait_for_quiet burn its
        # full patience per pass and stamp probe_gate_met=false — a
        # broken probe masquerading as substrate throttle with no
        # diagnostic anywhere.
        _log(
            f"probe subprocess failed (attempt {attempt}, "
            f"rc={proc.returncode}); stderr tail: "
            f"{proc.stderr.strip()[-500:]!r}"
        )
    raise RuntimeError(
        "delivery-probe subprocess failed twice — the probe harness is "
        "broken (see stderr tail above), not the substrate throttled"
    )


def _wait_for_quiet(gate: float, patience_s: float) -> float:
    """Delay a suite pass until the deliverable-CPU probe clears ``gate``
    (the quiet-window scheduling loop from tools/scaling_paired.py, ported
    here per round-4 VERDICT "Next" #1: three rounds of committed headline
    artifacts were throttle-window samples because run_headline measured
    whatever window it landed in). Returns the probe that released the
    pass — >= gate, or the last reading once patience expires (the pass
    then runs anyway so the driver always gets its one JSON line, but the
    artifact flags itself via probe_gate_met=false).

    Deliberately a sibling of, not shared with, the scaling harness's
    copy: the gates differ on purpose (0.90 here — an unpinned 32-thread
    suite; 0.95 there — pinned per-core legs where a ratio is at stake),
    as do the post-pass settles (10 s here after a full-suite unpersist;
    12 s there after a single flagship leg). Calibration changes to one
    do not automatically apply to the other — check both."""
    deadline = time.monotonic() + patience_s
    while True:
        p = _delivery_probe_subproc(CPUS)
        if p >= gate:
            _log(f"probe {p}/{CPUS} >= gate {gate:.1f} — window accepted")
            return p
        if time.monotonic() >= deadline:
            _log(f"probe {p}/{CPUS} < gate {gate:.1f} but patience expired — "
                 "running anyway (artifact will carry probe_gate_met=false)")
            return p
        _log(f"probe {p}/{CPUS} < gate {gate:.1f} — waiting for a quiet window")
        time.sleep(15.0)


def _suite_pass(spark, docs, reps: int = 2, compute_mrr: bool = True) -> dict:
    """One full pass over the headline queries; returns per-query wall
    seconds (best-of-``reps`` within the pass) plus the plaid quality
    fields. run_headline alternates passes across probe-gated windows and
    keeps per-query minima over the gate-valid passes.

    ``reps=2`` within a pass is load-bearing, not paranoia: measured on a
    quiet window, the flagship converges 22s -> 14s -> 5s -> 3.4s over
    consecutive executions (JVM C2 compilation of the generated stage
    code) — a single-shot sample reads JIT warm-up, not the engine."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from lsh_forest_for_multi_vector_retrieval_spark.operators.substring import (
        substring_dup_pairs,
    )

    timings: dict[str, float] = {}

    def timed(name: str, fn):
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        _log(f"  {name}: {best:.2f}s (best of {reps})")

    timed("dedup_e2e", lambda: _flagship(spark, docs))
    timed(
        "exact_dedup",
        lambda: em.q_exact_dup_groups(spark, SF_DIR).count(),
    )
    timed(
        "ngram_jaccard_exact",
        lambda: em.q_ngram_jaccard_pairs(spark, SF_DIR).count(),
    )
    timed("simhash_pairs", lambda: em.q_simhash_pairs(spark, SF_DIR).count())
    timed(
        "substring_pairs",
        lambda: substring_dup_pairs(docs, gram=32, window=16).count(),
    )
    timed("pricing_summary", lambda: em.q_pricing_summary(spark, SF_DIR).count())
    timed(
        "top_nations_by_revenue",
        lambda: em.q_top_nations_by_revenue(spark, SF_DIR).count(),
    )
    timed("customer_top_orders", lambda: em.q_customer_top_orders(spark, SF_DIR).count())
    from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import lsh_topk

    def ann():
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        qs = emb.where(F.col("vec_id") < 20)
        return lsh_topk(
            emb, qs, k=10, dim=64, bits=64, n_chunks=16, ensure_k=True,
            round_digits=6, scoring="pandas",
        ).count()

    timed("lsh_ann_topk", ann)
    from lsh_forest_for_multi_vector_retrieval_spark.operators.ann import ivf_topk

    def ivf():
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        qs = emb.where(F.col("vec_id") < 20)
        return ivf_topk(
            emb, qs, k=10, n_centroids=64, nprobe=8, iters=10,
            ensure_k=True, round_digits=6, assignment="pandas",
            scoring="pandas",
        ).count()

    timed("ivf_ann_topk", ivf)
    from lsh_forest_for_multi_vector_retrieval_spark.functions.bpe import (
        bpe_encode,
        fit_bpe,
    )

    def bpe():
        # full token-encoding stage: distributed freq learn (bounded
        # top_words collect + driver-side greedy merges) + Arrow-batched
        # encode of every document, reduced to a total-token count
        merges = fit_bpe(docs, num_merges=200, top_words=2000)
        return (
            bpe_encode(docs.select("doc_id", "text"), merges)
            .agg(F.sum(F.size("bpe_tokens")))
            .collect()
        )

    timed("bpe_encode", bpe)
    # production hash family at SF_DIR (the sf0.01-pinned fixture assert
    # lives in the driver query, not the operator)
    from lsh_forest_for_multi_vector_retrieval_spark.config import DedupConfig as _DC

    timed(
        "forest_vote_topk",
        lambda: em.forest_vote_pipeline(spark, SF_DIR, _DC(), k=5).count(),
    )

    plaid = run_plaid(spark, reps=reps, compute_mrr=compute_mrr)
    timings["plaid_topk"] = plaid["plaid_sec"]
    return {"timings": timings, "plaid": plaid}


def run_headline() -> dict:
    """Probe-gated headline suite (round-4 VERDICT "Next" #1): each pass
    waits (up to SPARK_GRAFT_QUIET_PATIENCE, default 480 s) for a window
    where the deliverable-CPU probe reads >= SPARK_GRAFT_PROBE_GATE
    (default 0.90) x CPUS; SPARK_GRAFT_BENCH_PASSES (default 2) passes
    alternate across windows and the recorded per-query number is the
    minimum over GATE-VALID passes only — a pass is gate-valid only if
    the probe clears the gate immediately BEFORE and immediately AFTER
    it (a pre-pass probe alone cannot certify a multi-minute pass; same
    post-leg discipline as tools/scaling_paired.py). A sample taken in a
    throttled window can no longer masquerade as engine performance: if
    no pass clears both gates within patience, the artifact says so
    (probe_gate_met=false) instead of silently under-reporting.
    Evidence-discipline analog: /root/reference/src/shared/test_query.py:191."""
    gate_frac = float(os.environ.get("SPARK_GRAFT_PROBE_GATE", "0.90"))
    patience = float(os.environ.get("SPARK_GRAFT_QUIET_PATIENCE", "480"))
    # clamp: 0/negative would skip every pass and IndexError after minutes
    # of warm-up, with no JSON line for the driver to parse
    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")))
    gate = gate_frac * CPUS

    spark = _spark(CPUS)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()  # warms the JVM + page cache
    # untimed warm-up: JVM JIT, Python worker pools, shuffle dirs, page
    # cache — so pass 1 measures steady state, not spin-up
    _flagship(spark, docs)

    passes: list[dict] = []
    for i in range(n_passes):
        probe = _wait_for_quiet(gate, patience)
        _log(f"pass {i + 1}/{n_passes} starting (probe {probe}/{CPUS})")
        # MRR oracle on pass 0 only: uncounted, expensive, deterministic
        rec = _suite_pass(spark, docs, reps=2, compute_mrr=(i == 0))
        rec["probe"] = probe
        # post-pass probe (same discipline as tools/scaling_paired.py's
        # post-leg probes): a pre-pass reading cannot certify a multi-
        # minute pass — the hypervisor can cap the VM 30 s in and every
        # timing after that is throttled while the pre-probe still says
        # quiet. A pass counts only if the window reads quiet on BOTH
        # ends. Settle + retry (ported from scaling_paired): an IMMEDIATE
        # probe reads the JVM's own asynchronous wind-down (unpersist
        # eviction, ContextCleaner, GC) as a substrate cap and falsely
        # voids a genuinely quiet pass — let it drain, and give one
        # second sample before declaring the window dirty.
        time.sleep(10)
        post = _delivery_probe_subproc(CPUS)
        if post < gate:
            time.sleep(15)
            post = max(post, _delivery_probe_subproc(CPUS))
        rec["probe_post"] = post
        passes.append(rec)
        _log(
            f"pass {i + 1} done: {round(sum(rec['timings'].values()), 1)}s "
            f"summed (post-probe {rec['probe_post']}/{CPUS})"
        )

    valid = [
        p for p in passes if p["probe"] >= gate and p["probe_post"] >= gate
    ]
    used = valid if valid else passes
    query_names = list(used[0]["timings"].keys())
    timings = {
        q: min(p["timings"][q] for p in used) for q in query_names
    }
    best_plaid = min(used, key=lambda p: p["plaid"]["plaid_sec"])["plaid"]
    mrr = passes[0]["plaid"]["plaid_mrr10_vs_exact_top1"]

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "n_docs": n_docs,
        "dedup_docs_per_sec": round(n_docs / timings["dedup_e2e"], 1),
        "plaid_qps": best_plaid["plaid_qps"],
        "plaid_mrr10_vs_exact_top1": mrr,
        "cpus": CPUS,
        # probes bracketing each counted pass: every number above was
        # measured in a window whose deliverable-CPU reading cleared the
        # gate BOTH immediately before and immediately after the pass.
        # probe_gate_met=false marks a sample no window certified — read
        # it as substrate, not engine.
        "cpu_delivery_probe": max(
            min(p["probe"], p["probe_post"]) for p in used
        ),
        "pass_probes": [p["probe"] for p in passes],
        "pass_probes_post": [p["probe_post"] for p in passes],
        "probe_gate": round(gate, 2),
        "probe_gate_met": bool(valid),
        "passes_counted": len(used),
    }
    spark.stop()
    return out


def run_single(cpus: int, reps: int | None = None) -> dict:
    # env resolved per call (not at import time) so callers that import
    # bench and set the var afterwards are honored (ADVICE round-2)
    if reps is None:
        reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "3"))
    # clamp like run_headline: reps=0 would leave wall=inf and the
    # result row unbound — discovered only AFTER the warm-up run
    reps = max(1, reps)
    # shuffle partitions FIXED across parallelism levels (like a real
    # cluster where the partition count is sized for the data, not the
    # executor count) so cores are the only variable
    spark = _spark(cpus, shuffle_partitions=64)
    corpus = _ensure_bench_corpus(spark)
    docs = spark.read.parquet(corpus)
    n = docs.count()
    # warm-up pass (JVM JIT + python workers + shuffle dirs), then
    # best-of-reps measured passes (the sandbox VM is bursty)
    _flagship(spark, docs)
    wall = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        n_clusters, n_pairs = _flagship(spark, docs)
        wall = min(wall, time.perf_counter() - t0)
    spark.stop()
    return {
        "cpus": cpus,
        "n_docs": n,
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(n / wall, 1),
        "n_clusters": n_clusters,
        "n_pairs": n_pairs,
    }


def run_scaling(rounds: int | None = None) -> dict:
    """Interleaved A/B/A/B sampling: the sandbox VM's capacity varies by
    multiples over minutes, so the two parallelism levels alternate in
    time and the per-level MINIMUM approximates quiet-window performance
    for both fairly. Each sample is a fresh JVM (subprocess).

    The scaling corpus is 4x the headline corpus (160k docs,
    $SPARK_GRAFT_SCALING_DOCS to override): strong-scaling efficiency is
    only meaningful when the parallel fraction dominates the fixed
    per-job scheduling latency (~1-2 s/job regardless of cores) — at 40k
    docs the local[32] leg finishes in ~35 s and Amdahl's fixed ~15 s
    caps efficiency at ~0.6 no matter how well the operators scale."""
    # env resolved per call (not at import time), same fix run_single
    # carries (ADVICE round-2; re-introduced here and caught in round-5
    # review)
    if rounds is None:
        rounds = int(os.environ.get("SPARK_GRAFT_SCALING_ROUNDS", "3"))
    rounds = max(1, rounds)
    scaling_docs = os.environ.get("SPARK_GRAFT_SCALING_DOCS", "160000")
    samples: dict[int, list[dict]] = {8: [], 32: []}
    for _ in range(rounds):
        for cpus in (8, 32):
            proc = subprocess.run(
                [sys.executable, __file__, "--single-run", str(cpus)],
                capture_output=True,
                text=True,
                env={
                    **os.environ,
                    "PYTHONPATH": _child_pythonpath(),
                    "SPARK_GRAFT_BENCH_DOCS": scaling_docs,
                },
            )
            lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
            if proc.returncode != 0 or not lines:
                # a crashed round must be LOUD (same rule as the probe
                # subprocess): silently producing fewer samples would
                # make the per-level minimum a wrong-efficiency artifact
                # with no trace (round-5 review)
                _log(
                    f"single-run subprocess failed (cpus={cpus}, "
                    f"rc={proc.returncode}); stderr tail: "
                    f"{proc.stderr.strip()[-500:]!r}"
                )
                continue
            samples[cpus].append(json.loads(lines[-1]))
    empty = [c for c, s in samples.items() if not s]
    if empty:
        raise RuntimeError(
            f"no successful scaling samples at cpus={empty} after {rounds} "
            "rounds — see the [bench] stderr log for per-round failures"
        )
    best = {c: min(s, key=lambda r: r["wall_sec"]) for c, s in samples.items()}
    t8, t32 = best[8]["wall_sec"], best[32]["wall_sec"]
    eff = (t8 / t32) / (32 / 8)
    out = {
        "metric": "scaling_efficiency_8_to_32_cores",
        "value": round(eff, 3),
        "unit": "efficiency",
        "runs": best,
        "all_samples": {str(c): [r["wall_sec"] for r in s] for c, s in samples.items()},
        "note": "sandbox stand-in for N->4N executors (north_rule): same job, "
        "same input, local[8] vs local[32], interleaved rounds, min per level; "
        "efficiency=(T8/T32)/4",
    }
    Path("BENCH_SCALING.json").write_text(json.dumps(out, indent=2))
    # same-results check: clusters/pairs must be identical at both levels
    assert best[8]["n_clusters"] == best[32]["n_clusters"], "nondeterminism!"
    assert best[8]["n_pairs"] == best[32]["n_pairs"], "nondeterminism!"
    return out


if __name__ == "__main__":
    if "--single-run" in sys.argv:
        cpus = int(sys.argv[sys.argv.index("--single-run") + 1])
        print(json.dumps(run_single(cpus)))
    elif "--probe" in sys.argv:
        # clean-interpreter probe mode (see _delivery_probe_subproc)
        n = int(sys.argv[sys.argv.index("--probe") + 1])
        print(_delivery_probe(n))
    elif "--scaling" in sys.argv:
        print(json.dumps(run_scaling()))
    else:
        print(json.dumps(run_headline()))
