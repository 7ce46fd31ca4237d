"""The measured process: one Spark session, warm-up, timed set-up and ops.

Started by ``run.py`` with inputs already on disk. Order of a run:

1. start the session (``session.get_spark``, timed as a per-layer number);
2. untimed warm-up: set-up plus ``WARM_OPS`` ops on the ``seed+1`` inputs
   (``Workload.warm_up``);
3. one timed set-up on the measured inputs;
4. ``n_ops`` timed ops, each checked; a failed op or check counts against
   ``ok_frac`` and the run goes on;
5. driver-JVM heap in use after a forced full GC;
6. quality against the benchmark-side ground truth.

With ``--trace 1`` the Spark event log is on, odd-numbered ops run under
spans (even ones untraced, for the overhead ratio), and the result holds
per-layer metrics instead of end-to-end ones.

Writes its result as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

WARM_OPS = 2
DRIVER_MEMORY = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: Path, event_log: Path | None):
    from lsh_forest_for_multi_vector_retrieval_spark.session import get_spark

    n = nproc()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{n}]",
                     shuffle_partitions=n, driver_memory=DRIVER_MEMORY,
                     extra_conf=conf)


def heap_live_mb(spark, min_rounds: int = 3, max_rounds: int = 8,
                 pause_s: float = 0.5) -> float:
    """Driver-JVM heap in use after forced full GCs. Python-side py4j
    proxies are collected first so their JVM objects become unreachable.
    Spark's ContextCleaner frees the blocks of collected RDDs (such as a
    finished op's local checkpoints) on its own thread some time after a
    GC, so full GCs repeat, ``pause_s`` apart, until the reading stops
    falling after at least ``min_rounds``; the lowest reading is
    returned."""
    gc.collect()
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean()
    used: list[int] = []
    for _ in range(max_rounds):
        mx.gc()
        used.append(mx.getHeapMemoryUsage().getUsed())
        if len(used) >= min_rounds and used[-1] >= 0.99 * min(used[:-1]):
            break
        time.sleep(pause_s)
    return min(used) / 2**20


def run(args) -> dict:
    from spans import OP_SPAN, SESSION_LAYER, SETUP_SPAN, SUFFIXES, Tracer, \
        layer_metrics, parse_event_log, self_time
    from workloads import WORKLOADS

    work = args.work
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    event_log = work / "eventlog" if args.trace else None

    t0 = time.perf_counter()
    spark = start_spark(work, event_log)
    session_s = time.perf_counter() - t0

    cls = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    cls(spark, Tracer(), args.warm_inputs, work / "warm").warm_up(WARM_OPS)
    warm_s = time.perf_counter() - t0

    tracer = Tracer(spark, enabled=bool(args.trace))
    wl = cls(spark, tracer, args.inputs, work / "measured")
    t = time.perf_counter()
    with tracer.layer(SETUP_SPAN, op_id=-1):
        wl.setup()
    setup_s = time.perf_counter() - t

    op_times, traced_times, untraced_times, failed = [], [], [], 0
    for i in range(args.n_ops):
        tracer.enabled = bool(args.trace) and i % 2 == 1
        t = time.perf_counter()
        try:
            with tracer.layer(OP_SPAN, op_id=i):
                out = wl.op(i)
            dt = time.perf_counter() - t
            ok = wl.check(i, out)
        except Exception:  # an op failure is a counted result, not a crash
            dt = time.perf_counter() - t
            traceback.print_exc()
            ok = False
        tracer.release()
        failed += not ok
        op_times.append(dt)
        (traced_times if tracer.enabled else untraced_times).append(dt)
    tracer.enabled = False

    heap = heap_live_mb(spark)
    quality = wl.quality()
    spark.stop()

    result = {
        "attempted": args.n_ops, "failed": failed, "op_times": op_times,
        "untraced_op_times": untraced_times, "quality": quality, "nproc": nproc(),
        "phases_s": {"session": session_s, "warm_up": warm_s,
                     "setup": setup_s, "ops": sum(op_times)},
    }
    if not args.trace:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (wl.items_per_op * args.n_ops / sum(op_times), "1/s"),
            "op_p50_s": (statistics.median(op_times), "s"),
            "quality": (quality["quality"], "ratio"),
            "ok_frac": ((args.n_ops - failed) / args.n_ops, "ratio"),
            "heap_live_mb": (heap, "MB"),
        }
        return result

    logs = [p for p in event_log.iterdir() if p.is_file()]
    groups = parse_event_log(logs[0])
    spans = tracer.spans
    m = {k: (v, SUFFIXES[k.rsplit(".", 1)[1]])
         for k, v in layer_metrics(spans, groups).items()}
    m[SESSION_LAYER + ".wall_s"] = (session_s, "s")
    ops = [s for s in spans if s.name == OP_SPAN]
    m["ops.wall_s"] = (sum(s.end - s.start for s in ops), "s")
    m["ops.uncovered_s"] = (sum(self_time(s, spans) for s in ops), "s")

    def op_rows(layer):  # rows_out of a layer over the traced ops only
        return sum(s.rows_out for s in spans
                   if s.name == layer and s.op_id is not None and s.op_id >= 0)

    cands = op_rows("pairs.candidate_pairs")
    signed = op_rows("bands.with_signatures")
    scored = op_rows("forest_vote.forest_vote_scores")
    m["verify.yield"] = (op_rows("verify.verify_pairs") / cands if cands else 0.0,
                         "ratio")
    m["pairs.per_doc"] = (cands / signed if cands else 0.0, "ratio")
    m["forest_vote.topk_share"] = (
        op_rows("forest_vote.get_top_k") / scored if scored else 0.0, "ratio")
    m["incremental.state_bytes_per_doc"] = (
        quality.get("state_bytes_per_doc", 0.0), "B/doc")
    m["tracing_overhead"] = (
        statistics.median(traced_times) / statistics.median(untraced_times)
        if traced_times and untraced_times else 0.0, "ratio")
    result["metrics"] = m
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", type=Path, required=True)
    ap.add_argument("--warm-inputs", type=Path, required=True)
    ap.add_argument("--n-ops", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--out", type=Path, required=True)
    args = ap.parse_args(argv)
    result = run(args)
    args.out.write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    sys.exit(main())
