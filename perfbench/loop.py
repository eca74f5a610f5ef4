"""Set-up, the timed closed loop, and the traced run."""

from __future__ import annotations

import json
import os
import time

import layer0
import stats
import tracing
import workloads
from session import start_spark, stop_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")


def _log(msg: str) -> None:
    print(f"# {msg}", flush=True)


# The first pass starts the Python workers and imports the library in
# them; while the JVM's JIT compiles, the second pass is still 10-20 %
# slower than the third, so both are set-up.
WARM_PASSES = 2


def _setup(spark, t0: float, wl_cls, args, work: str):
    """Inputs, exact answers and the untimed warm passes (which start the
    Python workers) on a session started at t0; returns (workload,
    set-up seconds, warm passes)."""
    t1 = time.monotonic()
    wl = wl_cls(spark, work, args.seed)
    wl.make_inputs()
    t2 = time.monotonic()
    warm = [_checked(wl.run_pass) for _ in range(WARM_PASSES)]
    t3 = time.monotonic()
    _log(f"setup: session {t1 - t0:.2f}s, inputs+answers {t2 - t1:.2f}s, "
         f"warm passes {t3 - t2:.2f}s")
    for i, p in enumerate(warm):
        _report_pass(i + 1, p, " (warm, untimed)")
    return wl, t3 - t0, warm


def _more(deadline: float, done: int) -> bool:
    return done == 0 or time.monotonic() < deadline


def _report_pass(i: int, p, tag: str = "") -> None:
    _log(f"pass {i}{tag}: {p.secs:.3f}s, mean quantile err/alpha {p.quantile_err_ratio:.4f}"
         + (f", FAILED: {'; '.join(p.errors[:5])}" if p.errors else ""))


def run(wl_cls, args, work: str) -> dict:
    if args.trace:
        return run_traced(wl_cls, args, work)
    t0 = time.monotonic()
    spark = start_spark(work, None)
    passes = []
    try:
        wl, setup_s, warm = _setup(spark, t0, wl_cls, args, work)
        # peak memory of the timed loop only: input generation and the
        # exact answers are the benchmark's own work
        stats.reset_peak_rss()
        deadline = time.monotonic() + args.seconds
        while _more(deadline, len(passes)):
            passes.append(_checked(wl.run_pass))
            _report_pass(len(passes), passes[-1])
        rss, rss_by_name = stats.peak_rss_mb()
        _log("peak RSS by process: " + ", ".join(f"{k} {v:.0f} MB"
                                                  for k, v in sorted(rss_by_name.items())))
    finally:
        stop_spark(spark)
    failed = sum(1 for p in passes if p.errors)
    ok = _timing_passes(passes)
    ans = stats.summarize([p.secs for p in ok])
    metrics = {
        "setup_s": (setup_s, "s"),
        "answer_s": (ans["median"], "s"),
        "quantile_err_ratio": (stats.summarize([p.quantile_err_ratio for p in ok])["median"],
                               "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }
    _log(f"answer_s over {ans['n']} passes: median {ans['median']:.3f}s, "
         f"quartiles {ans['q1']:.3f}s..{ans['q3']:.3f}s")
    _log(f"error_rate {failed}/{len(passes)} = {failed / len(passes):.3f}")
    for k, (v, u) in metrics.items():
        _log(f"{k} = {v:.6g} {u}")
    return {"correct": failed == 0 and not any(p.errors for p in warm),
            "attempted": len(passes),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def _timing_passes(passes: list) -> list:
    """The correct passes; if there are none, the passes that at least
    returned (the result then says correct: false)."""
    out = [p for p in passes if not p.errors] or [p for p in passes if p.secs > 0]
    if not out:
        raise RuntimeError("every timed pass raised")
    return out


def _checked(fn, *a, **kw):
    """A pass that raises is a failed pass, not a failed run."""
    try:
        return fn(*a, **kw)
    except Exception as ex:
        return workloads.Pass(secs=0.0, errors=[f"{type(ex).__name__}: {ex}"])


def run_traced(wl_cls, args, work: str) -> dict:
    """Untraced and traced passes alternate for --seconds. The traced
    tokens_build pass is itself a harness build split into stage 1,
    merge tree and fold; query_mix afterwards splits one of its queries'
    builds into stage 1 and `final_sketches` (which runs no merge tree
    at that size, so the merge-tree metrics are 0), and runs the
    warehouse round. Then the L0 replay. The event log is parsed after
    the SparkContext has stopped."""
    event_log = os.path.join(work, "eventlog")
    t0 = time.monotonic()
    spark = start_spark(work, event_log)
    tracer = tracing.Tracer(spark.sparkContext)
    plain, traced, rounds = [], [], []
    try:
        wl, setup_s, warm = _setup(spark, t0, wl_cls, args, work)
        deadline = time.monotonic() + args.seconds
        while _more(deadline, len(traced)):
            plain.append(_checked(wl.run_pass))
            _report_pass(len(plain), plain[-1], " (untraced)")
            traced.append(_checked(wl.run_pass, tracer, f"pass{len(traced) + 1}"))
            _report_pass(len(traced), traced[-1], " (traced)")
        sizes = [p.sizes for p in traced if p.sizes]
        if not isinstance(wl, workloads.TokensBuild):
            with tracer.span("harness", "harness"):
                _, mat, collected = workloads.final_split(spark, tracer, "harness",
                                                          *wl.harness_input())
            sizes = [workloads.harness_sizes(mat, collected)]
            # the rollup layer: one warm round, then one traced round
            wh = workloads.WarehouseRound(spark, work, args.seed)
            wh.make_inputs()
            for tid in (None, "rollup"):
                rounds.append(_checked(wh.run_pass, tracer if tid else None, tid))
                _report_pass(len(rounds), rounds[-1], " (warehouse round)")
        l0 = layer0.replay(*wl.l0_columns())
    finally:
        stop_spark(spark)
    groups = tracing.group_metrics(tracing.read_event_log(event_log))
    spans = tracer.spans
    selft = tracing.self_times(spans)
    med = lambda xs: stats.summarize(xs)["median"]  # noqa: E731

    def rows(name):
        return [(s, tracing.span_metrics(s, spans, groups)) for s in spans if s.name == name]

    passes, st1, mt, fold = (rows(n) for n in ("pass", "harness.stage1",
                                               "harness.merge_tree", "harness.fold"))
    # query_mix's final_sketches folds on the driver: no merge tree runs
    mt_med = med if isinstance(wl, workloads.TokensBuild) else lambda xs: 0.0
    metrics = dict(l0)
    metrics.update({
        "harness.stage1_s": med([s.duration for s, _ in st1]),
        "harness.stage1_task_run_s": med([m["task_run_s"] for _, m in st1]),
        "harness.stage1_jvm_cpu_s": med([m["jvm_cpu_s"] for _, m in st1]),
        "harness.stage1_tasks": med([m["tasks"] for _, m in st1]),
        "harness.partials": med([z["partials"] for z in sizes]),
        "harness.partial_bytes": med([z["partial_bytes"] for z in sizes]),
        "harness.merge_tree_s": mt_med([s.duration for s, _ in mt]),
        "harness.merge_tree_task_run_s": mt_med([m["task_run_s"] for _, m in mt]),
        "harness.shuffle_bytes": mt_med([m["shuffle_write_bytes"] for _, m in mt]),
        "harness.spill_bytes": mt_med([m["spill_bytes"] for _, m in mt]),
        "harness.fold_s": med([s.duration for s, _ in fold]),
        "harness.collect_bytes": med([z["collect_bytes"] for z in sizes]),
        "harness.jobs": med([sum(m["jobs"] for _, m in layers)
                             for layers in _by_trace(st1 + mt + fold)]),
        "pass.s": med([s.duration for s, _ in passes]),
        "pass.self_s": med([selft[s.span_id] for s, _ in passes]),
        "pass.jobs": med([m["jobs"] for _, m in passes]),
        "pass.task_run_s": med([m["task_run_s"] for _, m in passes]),
        "pass.jvm_cpu_s": med([m["jvm_cpu_s"] for _, m in passes]),
        "pass.shuffle_bytes": med([m["shuffle_write_bytes"] for _, m in passes]),
        "pass.spill_bytes": med([m["spill_bytes"] for _, m in passes]),
    })
    wall_plain = med([p.secs for p in _timing_passes(plain)])
    wall_traced = med([p.secs for p in _timing_passes(traced)])
    metrics["trace.overhead_pct"] = 100.0 * (wall_traced - wall_plain) / wall_plain
    units = _per_layer_units()
    failed = sum(1 for p in plain + traced + rounds if p.errors)

    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{wl_cls.name}-seed{args.seed}-trace.json")
    by_id = {s.span_id: s for s in spans}
    with open(path, "w") as f:
        json.dump({"workload": wl_cls.name, "seed": args.seed, "setup_s": setup_s,
                   "metrics": metrics,
                   "spans": [dict(s, self_s=selft[s["span_id"]],
                                  **tracing.span_metrics(by_id[s["span_id"]], spans, groups))
                             for s in tracer.to_json()]}, f, indent=1)
    _log(f"spans and per-layer metrics written to {os.path.relpath(path)}")
    for name in sorted({s.name for s in spans}):
        rs = rows(name)
        _log(f"span {name}: {len(rs)}x, median {med([s.duration for s, _ in rs]):.3f}s, "
             f"self {med([selft[s.span_id] for s, _ in rs]):.3f}s, "
             f"jobs {med([m['jobs'] for _, m in rs]):g}, "
             f"task run {med([m['task_run_s'] for _, m in rs]):.3f}s, "
             f"JVM CPU {med([m['jvm_cpu_s'] for _, m in rs]):.3f}s")
    for k in sorted(metrics):
        _log(f"{k} = {metrics[k]:.6g} {units[k]}")
    return {"correct": failed == 0 and not any(p.errors for p in warm),
            "attempted": len(plain) + len(traced) + len(rounds), "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}}


def _by_trace(rows: list) -> list:
    """(span, metrics) rows grouped by the trace (pass) they belong to."""
    out: dict = {}
    for s, m in rows:
        out.setdefault(s.trace_id, []).append((s, m))
    return list(out.values())


def _per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
