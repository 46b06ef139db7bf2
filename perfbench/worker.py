"""One benchmark run of one workload in a fresh process (started by run.py,
which pins the host settings in the environment first).

Prints one JSON line as its last line of output: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time
import traceback

import tracing as tr
import workloads

#: per-layer metrics, in output order; a layer a workload never reaches reads 0
PER_LAYER = [
    "session.get_spark_s",
    "session.warm_cache_s",
    "session.load_tables_s",
    "estimator.fit.self_s",
    "boosting.train.self_s",
    "boosting.fit_stump_s_per_round",
    "boosting.update_weights_s_per_round",
    "boosting.local_checkpoint_s_per_round",
    "boosting.stumps_to_df_s",
    "spark.jobs_per_round",
    "spark.stages_run_per_round",
    "spark.tasks_per_round",
    "spark.shuffle_write_mb_per_round",
    "spark.shuffle_read_mb_per_round",
    "spark.jobs_per_op",
    "spark.tasks_per_op",
    "spark.stage_reuse_share",
    "spark.spill_mb",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.core_busy_share",
    "spark.cached_peak_mb",
    "proc.tree_cpu_s",
    "proc.peak_rss_mb",
    "python.worker_cpu_s",
    "python.driver_cpu_s",
    *[f"query_mix.{m}_s" for m in workloads.QUERY_MODULES],
    "model.train_hamming_loss",
    "trace_overhead_share",
]

SELF_TIME_TOL_S = 1e-3  # largest allowed |sum of span self-times - op wall|
UNITS = {"_s": "s", "_mb": "MB", "_share": "share", "_loss": "share"}
OP_NAMES = {"train_dense": "train_s", "train_many_rounds": "train_s",
            "query_mix": "query_mix_s"}


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix) or name.endswith(suffix + "_per_round"):
            return unit
    return "count"


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _timing(name: str, xs: list[float]) -> str:
    """Median, plus the highest percentile with at least ten samples beyond
    it when there are enough samples for one."""
    text = f"{name}={_med(xs):.4f} s (median of {len(xs)}"
    if len(xs) > 10:
        text += f"; p{100 * (len(xs) - 10) / len(xs):.0f}={sorted(xs)[-11]:.4f} s"
    return text + ")"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()

    t_start = time.perf_counter()
    from spark_multiboost_spark.session import get_spark

    wl = workloads.make(args.workload)
    rec = tr.Recorder()
    if args.trace:
        tr.instrument(rec)
        rec.enabled = True
    with rec.span("session.get_spark"):
        t = time.perf_counter()
        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t
    counters = tr.SparkCounters(spark)
    rec.counters = counters if args.trace else None
    jvm_pid = spark.sparkContext._gateway.proc.pid

    errors: list[str] = []
    attempted = failed = 0
    check_s = 0.0

    def checked(out) -> bool:
        nonlocal check_s, failed
        t = time.perf_counter()
        errs = wl.check(out)
        check_s += time.perf_counter() - t
        errors.extend(errs)
        failed += bool(errs)
        return not errs

    try:
        wl.prepare(spark, args.data_dir, args.seed % 2**64, rec)
        rec.enabled = False
        attempted += 1
        checked(wl.warmup(rec))
        setup_s = time.perf_counter() - t_start - check_s

        # a traced run alternates plain and traced ops, for trace_overhead_share
        schedule = [False, True] if args.trace else [False]
        poller = tr.MemoryPoller(counters)
        ops = []
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline or len(ops) < max(len(schedule), wl.min_ops):
            traced = schedule[len(ops) % len(schedule)]
            rec.trace, rec.enabled = len(ops) + 1, traced
            p0, c0 = tr.proc_tree(jvm_pid), os.times()
            if traced:
                poller.start()
            t = time.perf_counter()
            try:
                out, ok = wl.run(rec), True
            except Exception:  # an op that raises is counted, not fatal
                traceback.print_exc()
                out, ok = None, False
            wall = time.perf_counter() - t
            peak = poller.stop() if traced else None
            rec.enabled = False
            p1, c1 = tr.proc_tree(jvm_pid), os.times()
            attempted += 1
            if not ok:
                failed += 1
                errors.append("operation raised")
            op = {"traced": traced, "trace": rec.trace, "wall": wall, "peak_mb": peak,
                  "ok": ok and checked(out),
                  "tree_cpu": p1["cpu_s"] - p0["cpu_s"],
                  "py_cpu": p1["python_cpu_s"] - p0["python_cpu_s"],
                  "driver_cpu": (c1.user + c1.system) - (c0.user + c0.system)}
            if traced and ok:
                root = next(s for s in rec.of_trace(rec.trace) if s.parent is None)
                op["stages"] = counters.stages(*root.stages)
            ops.append(op)
    except Exception:
        traceback.print_exc()
        return 1

    main_ops = [o for o in ops if not o["traced"]]
    op_s = _med([o["wall"] for o in main_ops])
    op_cpu_s = _med([o["tree_cpu"] + o["driver_cpu"] for o in main_ops])
    loss = f" train_hamming_loss={wl.hamming_loss:.6f}" if hasattr(wl, "hamming_loss") else ""
    if args.trace:
        for o in ops:
            bad = self_time_mismatches(rec, o) if o["traced"] else []
            errors += bad
            if bad and o["ok"]:
                o["ok"] = False
                failed += 1
        metrics = layer_metrics(wl, rec, ops, counters.cores)
        metrics["session.get_spark_s"] = get_spark_s
        rss = tr.proc_tree(jvm_pid)["hwm_mb"]
        metrics["proc.peak_rss_mb"] = rss + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        rec.dump(args.spans)
        out = {k: {"value": metrics.get(k, 0.0), "unit": _unit(k)} for k in PER_LAYER}
    else:
        out = {
            "op_s": {"value": op_s, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    print(f"{args.workload}: {_timing(OP_NAMES[args.workload], [o['wall'] for o in main_ops])}"
          f"{loss} op_cpu_s={op_cpu_s:.4f} s setup_s={setup_s:.4f} s"
          f" error_rate={failed / attempted:.4f} ({failed} of {attempted} operations)")
    for e in errors:
        print(f"error: {e}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


def self_time_mismatches(rec: tr.Recorder, op) -> list[str]:
    """The spans of a traced operation must form a tree inside its measured
    wall time: each span's parent is the innermost span that encloses it, no
    self-time is negative, and the self-times add up to the operation's wall
    time within SELF_TIME_TOL_S."""
    bad = []
    own = rec.self_times(op["trace"])
    for i, t in own.items():
        s = rec.spans[i]
        # spans nest (one thread), so the enclosing span that starts last is
        # the innermost; on equal starts, the one opened later
        enclosing = [j for j in own if j != i and rec.spans[j].start <= s.start
                     and s.end <= rec.spans[j].end]
        inner = max(enclosing, key=lambda j: (rec.spans[j].start, j), default=None)
        if s.parent != inner:
            bad.append(f"trace {op['trace']}: span {s.name} is not a child of "
                       f"the innermost span around it")
        if t < 0:
            bad.append(f"trace {op['trace']}: span {s.name} has self time {t:.6f} s")
    total = sum(own.values())
    if abs(total - op["wall"]) > SELF_TIME_TOL_S:
        bad.append(f"trace {op['trace']}: self times sum to {total:.6f} s, "
                   f"the operation took {op['wall']:.6f} s")
    return bad


def layer_metrics(wl, rec: tr.Recorder, ops, cores: int) -> dict[str, float]:
    """Per-layer metrics from the traced ops' spans and stage counters, each
    the median over traced ops."""
    m: dict[str, list[float]] = {}

    def add(key, value):
        m.setdefault(key, []).append(value)

    for s in rec.of_trace(0):  # set-up spans
        if s.name in ("session.warm_cache", "session.load_tables"):
            add(s.name + "_s", s.end - s.start)
    index = {id(s): i for i, s in enumerate(rec.spans)}
    traced = [o for o in ops if o["traced"] and o["ok"]]
    for o in traced:
        spans = rec.of_trace(o["trace"])
        own = rec.self_times(o["trace"])
        stages = o["stages"]
        st_all = list(stages.values())
        n_run = sum(s["status"] == "COMPLETE" for s in st_all)
        n_skipped = sum(s["status"] == "SKIPPED" for s in st_all)
        root = next(s for s in spans if s.parent is None)
        exec_run = sum(s["executorRunTime"] for s in st_all) / 1000
        add("spark.jobs_per_op", root.jobs[1] - root.jobs[0])
        add("spark.tasks_per_op", sum(s["numCompleteTasks"] for s in st_all))
        add("spark.stage_reuse_share", n_skipped / max(1, n_run + n_skipped))
        add("spark.spill_mb", sum(s["diskBytesSpilled"] for s in st_all) / 2**20)
        add("spark.executor_run_s", exec_run)
        add("spark.executor_cpu_s", sum(s["executorCpuTime"] for s in st_all) / 1e9)
        add("spark.gc_s", sum(s["jvmGcTime"] for s in st_all) / 1000)
        add("spark.core_busy_share", exec_run / ((root.end - root.start) * cores))
        add("spark.cached_peak_mb", o["peak_mb"])
        add("proc.tree_cpu_s", o["tree_cpu"])
        add("python.worker_cpu_s", o["py_cpu"])
        add("python.driver_cpu_s", o["driver_cpu"])
        if root.name == "estimator.fit":
            add("estimator.fit.self_s", own[index[id(root)]])
            for s in spans:
                if s.name == "boosting.train":
                    add("boosting.train.self_s", own[index[id(s)]])
                if s.name == "boosting.stumps_to_df":
                    add("boosting.stumps_to_df_s", s.end - s.start)
            # a round is its search, its weight update and the checkpoint
            # after it; the checkpoint before the first search is set-up
            first_search = min(s.start for s in spans if s.name == "boosting.fit_stump")
            per_round = [s for s in spans if s.start >= first_search and s.name in (
                "boosting.fit_stump", "boosting.update_weights", "spark.localCheckpoint")]
            for name, key in (("boosting.fit_stump", "boosting.fit_stump_s_per_round"),
                              ("boosting.update_weights", "boosting.update_weights_s_per_round"),
                              ("spark.localCheckpoint", "boosting.local_checkpoint_s_per_round")):
                add(key, sum(s.end - s.start for s in per_round if s.name == name) / wl.rounds)
            rs = [stages[i] for s in per_round for i in range(*s.stages) if i in stages]
            add("spark.jobs_per_round",
                sum(s.jobs[1] - s.jobs[0] for s in per_round) / wl.rounds)
            add("spark.stages_run_per_round",
                sum(s["status"] == "COMPLETE" for s in rs) / wl.rounds)
            add("spark.tasks_per_round", sum(s["numCompleteTasks"] for s in rs) / wl.rounds)
            add("spark.shuffle_write_mb_per_round",
                sum(s["shuffleWriteBytes"] for s in rs) / 2**20 / wl.rounds)
            add("spark.shuffle_read_mb_per_round",
                sum(s["shuffleReadBytes"] for s in rs) / 2**20 / wl.rounds)
        else:
            per_mod = dict.fromkeys(workloads.QUERY_MODULES, 0.0)
            for s in spans:
                if s.name.startswith("query."):
                    mod = wl.qs[s.name[len("query."):]].__module__
                    per_mod[mod.split(".", 1)[1]] += s.end - s.start
            for mod, v in per_mod.items():
                add(f"query_mix.{mod}_s", v)

    out = {k: _med(v) for k, v in m.items()}
    if hasattr(wl, "hamming_loss"):
        out["model.train_hamming_loss"] = wl.hamming_loss
    plain = [o["wall"] for o in ops if not o["traced"]]
    with_spans = [o["wall"] for o in traced]
    if plain and with_spans:
        out["trace_overhead_share"] = _med(with_spans) / _med(plain) - 1
    return out


if __name__ == "__main__":
    sys.exit(main())
