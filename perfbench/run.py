"""Benchmark entry point: one workload, one seed, one pass.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` times the workload with no
instrumentation and prints the end-to-end metrics; ``--trace 1`` runs it
again with spans, Spark job records and the UDF profiler on, and prints
the per-layer metrics. Human-readable lines come first; the last line of
standard output is one JSON object. Scratch files live under
``.perfbench_work/`` and are removed at exit; span traces are kept under
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the one place the layer -> end-to-end map lives; printed with every run
END_TO_END = {
    "setup_s": ("s", "process start to first timed op: session, corpus, full build, warm-up"),
    "op_p50_ms": ("ms", "median closed-loop op: one query (search) or one incoming batch (ingest)"),
    "index_bytes_per_input_byte": ("ratio", "committed index bytes on disk / input content bytes"),
}
# printed with the end-to-end metrics but not bounded: one cold build per
# run and the JVM's heap growth spread wider than any bound allows
REPORTED = {
    "build_docs_per_s": ("docs/s", "docs indexed per second by the full build_index in set-up"),
    "peak_rss_mb": ("MB", "peak RSS of the process tree: driver, JVM, Python workers"),
}
LAYER_MAP = {
    "session.get_spark_s": ("s", "setup_s"),
    "builder.build_docs_per_s": ("docs/s", "setup_s; the set-up build_index, cold"),
    "builder.build_segments_s": ("s", "setup_s (set-up build); op_p50_ms on ingest"),
    "builder.finalize_index_s": ("s", "setup_s (set-up build); op_p50_ms on ingest"),
    "builder.append_to_index_s": ("s", "op_p50_ms on ingest"),
    "builder.stage_job_s": ("s", "setup_s (set-up build); op_p50_ms on ingest"),
    "builder.invert_job_s": ("s", "setup_s (set-up build); op_p50_ms on ingest"),
    "builder.term_stats_job_s": ("s", "setup_s (set-up build); op_p50_ms on ingest"),
    "builder.merge_job_s": ("s", "setup_s (set-up build); op_p50_ms on ingest"),
    "builder.invert_udf_s": ("s", "setup_s (set-up build); op_p50_ms on ingest"),
    "builder.shuffle_write_bytes": ("bytes", "setup_s (set-up build); op_p50_ms on ingest"),
    "builder.spark_jobs": ("count", "setup_s (set-up build); op_p50_ms on ingest"),
    "builder.tasks": ("count", "setup_s (set-up build); op_p50_ms on ingest"),
    "index.postings_bytes": ("bytes", "index_bytes_per_input_byte"),
    "index.merged_bytes": ("bytes", "index_bytes_per_input_byte; op_p50_ms on search"),
    "index.docs_bytes": ("bytes", "index_bytes_per_input_byte"),
    "index.norms_bytes": ("bytes", "index_bytes_per_input_byte"),
    "plan.parse_ms": ("ms", "op_p50_ms on search"),
    "executor.plan_ms": ("ms", "op_p50_ms on search (driver planning)"),
    "executor.collect_ms": ("ms", "op_p50_ms on search (jobs, kernel, top-k merge)"),
    "executor.jobs_per_query": ("count", "op_p50_ms on search"),
    "executor.stages_per_query": ("count", "op_p50_ms on search"),
    "executor.tasks_per_query": ("count", "op_p50_ms on search"),
    "executor.udf_ms_per_query": ("ms", "op_p50_ms on search, hot class"),
    "executor.input_bytes_per_query": ("bytes", "op_p50_ms on search, hot class"),
    "executor.shuffle_bytes_per_query": ("bytes", "op_p50_ms on search"),
    "executor.rare_query_ms": ("ms", "op_p50_ms on search, rare class"),
    "executor.hot_query_ms": ("ms", "op_p50_ms on search, hot class"),
    "executor.blocks_decoded_rare": ("count", "op_p50_ms on search, rare class"),
    "executor.blocks_decoded_hot": ("count", "op_p50_ms on search, hot class"),
    "executor.blocks_decoded_ratio_rare": ("ratio", "op_p50_ms on search, rare class"),
    "executor.blocks_decoded_ratio_hot": ("ratio", "op_p50_ms on search, hot class"),
    "executor.index_open_s": ("s", "op_p50_ms on ingest (append visible)"),
    "executor.delete_docs_s": ("s", "op_p50_ms on ingest"),
    "streaming.percolate_tree_s": ("s", "op_p50_ms on ingest"),
    "streaming.percolate_prefiltered_s": ("s", "op_p50_ms on ingest"),
    "streaming.match_rows": ("count", "op_p50_ms on ingest"),
    "streaming.jobs_per_batch": ("count", "op_p50_ms on ingest"),
    "streaming.shuffle_bytes_per_batch": ("bytes", "op_p50_ms on ingest"),
    "self.bench_ms_per_op": ("ms", "op_p50_ms (benchmark's own share)"),
    "self.plan_ms_per_op": ("ms", "op_p50_ms on search"),
    "self.executor_ms_per_op": ("ms", "op_p50_ms"),
    "self.builder_ms_per_op": ("ms", "op_p50_ms on ingest"),
    "self.streaming_ms_per_op": ("ms", "op_p50_ms on ingest"),
    "process.peak_rss_mb": ("MB", "memory: driver, JVM and Python workers"),
    "trace.op_p50_ms": ("ms", "op_p50_ms; minus the untraced value = tracing overhead"),
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def upper_percentile(xs):
    """(p, value) for the highest of p50/p90/p99 with >= 10 samples beyond."""
    best = None
    for p in (50, 90, 99):
        if len(xs) * (100 - p) / 100 >= 10:
            best = (p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1])
    return best


def configure_env(work: str, trace: bool) -> None:
    """Spark scratch, temp files and (traced pass) the event log all stay
    under the run's work dir; workers import the engine from ROOT."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # both JVMs spark-submit starts (its launcher, then the driver) keep
    # their temp files here and write no /tmp/hsperfdata_<user>
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.python.worker.faulthandler.enabled": "true",
        "spark.driver.extraJavaOptions": jvm_opts,
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + events
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait until it and the
    Python workers it forked are gone: the JVM exits when its stdin pipe
    closes, and its worker daemon exits with it."""
    from pyspark import SparkContext
    from spans import process_tree

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def trace_targets():
    import lucene_spark.index.builder as builder
    import lucene_spark.search.executor as executor
    import lucene_spark.search.plan as plan
    import lucene_spark.session as session
    import lucene_spark.streaming as streaming

    return [
        ("session.get_spark", session, "get_spark"),
        ("builder.build_index", builder, "build_index"),
        ("builder.build_segments", builder, "build_segments"),
        ("builder.finalize_index", builder, "finalize_index"),
        ("builder.append_to_index", builder, "append_to_index"),
        ("plan.parse", plan, "parse"),
        ("executor.search_query", executor, "search_query"),
        ("executor.index_open", executor.Index, "open"),
        ("executor.delete_docs", executor.Index, "delete_docs"),
        ("streaming.percolate_tree", streaming, "percolate_tree"),
        ("streaming.percolate_prefiltered", streaming, "percolate_prefiltered"),
    ]


def end_to_end(out, rss) -> dict:
    """End-to-end metrics, then the reported-only ones."""
    b = out.base
    return {
        "setup_s": (out.setup_s, 1),
        "op_p50_ms": (median(out.op_ms), len(out.op_ms)),
        "index_bytes_per_input_byte": (sum(b.index_bytes.values()) / b.input_bytes, 1),
        "build_docs_per_s": (b.docs / b.build_s, 1),
        "peak_rss_mb": (rss.peak_bytes / 2**20, rss.samples),
    }


def per_layer(out, tracer, jobs, stages, e2e) -> dict:
    from spans import jobs_by_span

    by_span = jobs_by_span(jobs)
    self_t = tracer.self_time()

    def pick(name):
        """Spans of one call inside timed ops, else those of set-up."""
        spans = tracer.named(name)
        return [s for s in spans if s.op is not None] or spans

    def durs(name, scale=1.0):
        return [s.dur * scale for s in pick(name)]

    def jobs_under(span):
        return [j for s in tracer.subtree(span) for j in by_span.get(s.sid, ())]

    def stage_sum(js, attr):
        return sum(getattr(stages[sid], attr) for j in js for sid in j.stages if sid in stages)

    def n_stages(js):
        return sum(1 for j in js for sid in j.stages if sid in stages)

    m = {"session.get_spark_s": durs("session.get_spark"),
         "builder.build_docs_per_s": [e2e["build_docs_per_s"][0]]}
    for fn in ("build_segments", "finalize_index", "append_to_index"):
        m[f"builder.{fn}_s"] = durs(f"builder.{fn}")
    stage_s, invert_s, ts_s, merge_s, udf_s = [], [], [], [], []
    # build_segments: the segment tasks are the one collect, the rest
    # stages the input; finalize_index: the first DataFrame action writes
    # term stats, the later ones the salted merge
    for s in pick("builder.build_segments"):
        js = by_span.get(s.sid, [])
        invert_s.append(sum(j.dur_s for j in js if j.call_site.startswith("collect")))
        stage_s.append(sum(j.dur_s for j in js if not j.call_site.startswith("collect")))
        udf_s.append(s.udf_s)
    for s in pick("builder.finalize_index"):
        js = by_span.get(s.sid, [])
        first = js[0].execution if js else None
        ts_s.append(sum(j.dur_s for j in js if j.execution == first))
        merge_s.append(sum(j.dur_s for j in js if j.execution != first))
    m["builder.stage_job_s"] = stage_s
    m["builder.invert_job_s"] = invert_s
    m["builder.term_stats_job_s"] = ts_s
    m["builder.merge_job_s"] = merge_s
    m["builder.invert_udf_s"] = udf_s
    builds = pick("builder.append_to_index") if any(
        s.op is not None for s in tracer.named("builder.append_to_index")
    ) else tracer.named("builder.build_index")
    m["builder.shuffle_write_bytes"] = [stage_sum(jobs_under(b), "shuffle_write_bytes") for b in builds]
    m["builder.spark_jobs"] = [len(jobs_under(b)) for b in builds]
    m["builder.tasks"] = [stage_sum(jobs_under(b), "tasks") for b in builds]
    for part in ("postings", "merged", "docs", "norms"):
        m[f"index.{part}_bytes"] = [out.base.index_bytes[part]]

    ops = [s for s in tracer.named("bench.op") if s.op is not None]
    queries = ops if out.op_class and out.op_class[0] != "batch" else []
    batches = ops if not queries else []
    m["plan.parse_ms"] = durs("plan.parse", 1000)
    m["executor.plan_ms"] = durs("executor.search_query", 1000)
    m["executor.collect_ms"] = durs("executor.collect", 1000)
    qjobs = [jobs_under(op) for op in queries]
    m["executor.jobs_per_query"] = [len(js) for js in qjobs]
    m["executor.stages_per_query"] = [n_stages(js) for js in qjobs]
    m["executor.tasks_per_query"] = [stage_sum(js, "tasks") for js in qjobs]
    m["executor.udf_ms_per_query"] = [1000 * sum(s.udf_s for s in tracer.subtree(op)) for op in queries]
    m["executor.input_bytes_per_query"] = [stage_sum(js, "input_bytes") for js in qjobs]
    m["executor.shuffle_bytes_per_query"] = [stage_sum(js, "shuffle_write_bytes") for js in qjobs]
    for cls in ("rare", "hot"):
        m[f"executor.{cls}_query_ms"] = [
            ms for ms, c in zip(out.op_ms, out.op_class) if c == cls]
        m[f"executor.blocks_decoded_{cls}"] = out.extra.get(f"blocks_decoded.{cls}", [])
        m[f"executor.blocks_decoded_ratio_{cls}"] = out.extra.get(f"blocks_ratio.{cls}", [])
    m["executor.index_open_s"] = durs("executor.index_open")
    m["executor.delete_docs_s"] = durs("executor.delete_docs")
    m["streaming.percolate_tree_s"] = durs("streaming.percolate_tree.run")
    m["streaming.percolate_prefiltered_s"] = durs("streaming.percolate_prefiltered.run")
    m["streaming.match_rows"] = out.extra.get("match_rows", [])
    pjobs = [[j for s in tracer.subtree(op) if s.name.endswith(".run")
              for j in jobs_under(s)] for op in batches]
    m["streaming.jobs_per_batch"] = [len(js) for js in pjobs]
    m["streaming.shuffle_bytes_per_batch"] = [stage_sum(js, "shuffle_write_bytes") for js in pjobs]
    in_ops = [s for op in ops for s in tracer.subtree(op)]
    for layer in ("bench", "plan", "executor", "builder", "streaming"):
        total = sum(self_t[s.sid] for s in in_ops if s.layer == layer)
        m[f"self.{layer}_ms_per_op"] = [1000 * total / len(ops)] if ops else []
    m["process.peak_rss_mb"] = [e2e["peak_rss_mb"][0]]
    m["trace.op_p50_ms"] = out.op_ms
    return {k: (median(v), len(v)) for k, v in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a seconds-long smoke run, not a measurement")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lucene_spark", "__init__.py")):
        print(f"perfbench: no lucene_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads
    from spans import RssSampler, Tracer, read_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    configure_env(work, trace)
    nproc = len(os.sched_getaffinity(0))
    tracer = Tracer(trace, prof_dir=os.path.join(work, "prof"))
    tracer.install(trace_targets())
    spark = None
    try:
        with RssSampler() as rss:
            import lucene_spark.session as session

            spark = session.get_spark(
                f"perfbench-{args.workload}", master=f"local[{nproc}]",
                shuffle_partitions=nproc)
            tracer.bind(spark)
            run = workloads.Run(
                spark, tracer, work, args.seed, args.seconds,
                workloads.TINY if args.size == "tiny" else workloads.FULL, T_START,
                rss.stop)
            out = workloads.WORKLOADS[args.workload](run)
        e2e = end_to_end(out, rss)
        stop_spark(spark)
        spark = None
        if trace:
            jobs, stages = read_event_log(os.path.join(work, "events"))
            metrics = per_layer(out, tracer, jobs, stages, e2e)
            tracer.write(os.path.join(
                out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl"), jobs)
            units = {k: u for k, (u, _) in LAYER_MAP.items()}
        else:
            metrics = {k: e2e[k] for k in END_TO_END}
            units = {k: u for k, (u, _) in END_TO_END.items()}
    finally:
        tracer.uninstall()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench workload={args.workload} seed={args.seed} trace={int(trace)} "
          f"master=local[{nproc}] size={args.size} seconds={args.seconds:g} "
          f"window_s={out.window_s:.1f} total_s={time.perf_counter() - T_START:.1f}")
    for k, (v, n) in metrics.items():
        where = f"  -> {LAYER_MAP[k][1]}" if trace else f"  -- {END_TO_END[k][1]}"
        print(f"  {k:36s} {v:14.4f} {units[k]:7s} n={n}{where}")
    if not trace:
        for k, (unit, what) in REPORTED.items():
            print(f"  {k:36s} {e2e[k][0]:14.4f} {unit:7s} n={e2e[k][1]}  -- {what} (not bounded)")
    up = upper_percentile(out.op_ms)
    if up and up[0] > 50:
        print(f"  op_p{up[0]}_ms {up[1]:.4f} ms n={len(out.op_ms)}")
    for key in sorted(out.extra):
        xs = out.extra[key]
        print(f"  {key:36s} {median(xs):14.4f} median  n={len(xs)}")
    for cls in sorted(set(out.op_class)):
        xs = [ms for ms, c in zip(out.op_ms, out.op_class) if c == cls]
        print(f"  {cls + '_op_p50_ms':36s} {median(xs):14.4f} ms      n={len(xs)}")
    print("  op_ms: " + " ".join(f"{x:.0f}" for x in out.op_ms))
    share = out.failed / out.attempted if out.attempted else 1.0
    print(f"  {'failed_op_share':36s} {share:14.4f} ratio   n={out.attempted}")
    for err in out.errors:
        print(f"  FAILED: {err}")
    if not out.op_ms:
        print("perfbench: no op completed; no result", file=sys.stderr)
        return 1
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, (v, _n) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
