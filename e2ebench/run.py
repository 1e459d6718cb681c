"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 e2ebench/run.py --workload serve --seed 1 --seconds 20 --trace 0
    python3 e2ebench/run.py --smoke        # all workloads at toy sizes

Run from the repository root. The process pins its environment, starts
one Spark session on ``local[nproc]``, runs the workload's fixed, seeded
operations from one client thread, checks the library's outputs and
prints ``{"correct", "attempted", "failed", "metrics"}`` as its last
stdout line. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
re-runs the same operations with Spark job groups, the event log and the
layer probes on, and reports the per-layer metrics. Runs are
count-based: ``--seconds`` is recorded, not used to size the run.

Everything it writes lives under ``e2ebench/.work/`` in the checkout.
The corpus and the base indexes are built once per checkout and library
source (``cache/<key>``), in a child process with its own JVM; that
one-time fill is excluded from ``setup_s``. See README.md for workloads, metrics and layers.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "go_dcp_elasticsearch_spark"

END_TO_END_UNITS = {"setup_s": "s", "op_cpu_s": "s", "work_per_cpu_s": "1/s"}
LAYER_UNITS = {
    "wall.setup_s": "s", "wall.latency_p50_s": "s", "wall.throughput_per_s": "1/s",
    "session.start_s": "s", "session.peak_rss_mb": "MB", "session.timed_cpu_s": "s",
    "corpus.generate_s": "s",
    "builder.build_s": "s", "builder.jobs": "count", "builder.tasks": "count",
    "builder.task_ms": "ms", "builder.shuffle_write_bytes": "bytes",
    "builder.input_bytes": "bytes", "builder.spill_bytes": "bytes",
    "tokenizer.mb_per_s": "MB/s", "codec.encode_postings_per_s": "1/s",
    "codec.decode_postings_per_s": "1/s",
    "query.plan_s": "s", "query.exec_s": "s", "query.jobs": "count", "query.tasks": "count",
    "query.shuffle_write_bytes": "bytes", "query.input_bytes": "bytes", "query.refresh_s": "s",
    "batch.plan_s": "s", "batch.exec_s": "s", "batch.task_ms": "ms",
    "batch.shuffle_write_bytes": "bytes",
    "lineage.record_count_s": "s",
    "changes.apply_s": "s", "changes.n_changed": "count", "changes.tasks": "count",
    "changes.input_bytes_per_changed_doc": "bytes", "changes.output_bytes_per_changed_doc": "bytes",
    "changes.route": "code",
    "segments.fold_s": "s", "segments.list_s": "s", "segments.n_segments": "count",
    "segments.n_tombstones": "count",
    "keymap.used": "count",
    "index.bytes_per_source_byte": "ratio",
}
# library knobs that change which route an operation takes: unset, so the
# library's defaults apply on every run
ROUTE_KNOBS = ("SPARK_GRAFT_KEYMAP_MIN_DOCS", "SPARK_GRAFT_SMALL_DELTA_MAX",
               "SPARK_GRAFT_SMALL_GRAPH_MAX", "SPARK_GRAFT_TRACE", "SPARK_GRAFT_TMPFS")


def pin_environment(run_dir: str) -> dict:
    """The environment the library, the JVM and the Python workers read,
    set before the JVM starts. Returns what was pinned."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEMORY": "3g",
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    for knob in ROUTE_KNOBS:
        os.environ.pop(knob, None)
    os.environ.update(pinned)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return pinned


def start_session(run_dir: str, trace: bool):
    from go_dcp_elasticsearch_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + events,
        })
    spark = get_spark(app_name="e2ebench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    import probes

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = probes.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(started)


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has exited."""
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def cache_key() -> str:
    """Hash of the library's source: a changed library rebuilds the cache."""
    h = hashlib.sha1()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def cache_paths(sizes: dict, label: str) -> dict:
    """Where the corpus parquet and the base indexes live: one directory
    per checkout, library source and size. The corpus is a pure function
    of row number, so every workload reads a prefix of one parquet."""
    root = os.path.join(WORK, "cache", label, cache_key())
    n_corpus = max(sizes["serve_docs"], sizes["cdc_docs"])
    return {"root": root,
            "corpus": os.path.join(root, f"corpus_{n_corpus}"),
            "serve_index": os.path.join(root, f"index_{sizes['serve_docs']}"),
            "cdc_index": os.path.join(root, f"index_dup_{sizes['cdc_docs']}")}


def fill_cache(spark, sizes: dict, label: str) -> None:
    """Write what ``cache_paths`` names and is missing, each published by
    an atomic rename; drop caches of other library sources."""
    import workloads
    from go_dcp_elasticsearch_spark.corpus import synth_corpus
    from go_dcp_elasticsearch_spark.index.builder import IndexBuilder

    paths = cache_paths(sizes, label)
    parent = os.path.dirname(paths["root"])
    os.makedirs(paths["root"], exist_ok=True)
    for other in os.listdir(parent):
        if other != os.path.basename(paths["root"]):
            shutil.rmtree(os.path.join(parent, other), ignore_errors=True)
    n_corpus = max(sizes["serve_docs"], sizes["cdc_docs"])
    jobs = [
        ("corpus", lambda out: synth_corpus(spark, n_corpus).write.parquet(out)),
        ("serve_index", lambda out: IndexBuilder(spark, out, n_shards=workloads.n_shards()).build(
            spark.read.parquet(paths["corpus"]).filter(f"seq_no < {sizes['serve_docs']}"))),
        ("cdc_index", lambda out: IndexBuilder(spark, out, n_shards=workloads.n_shards()).build(
            workloads.cdc_source(spark, paths["corpus"], sizes["cdc_docs"]))),
    ]
    for name, make in jobs:
        if not os.path.exists(paths[name]):
            part = paths[name] + ".part"
            shutil.rmtree(part, ignore_errors=True)
            make(part)
            os.rename(part, paths[name])


def layer_metrics(run, event_dir: str) -> dict:
    """Per-layer metrics of a traced run: span timings, event-log
    counters per call (medians over a fixed set of calls) and the
    workload's probes. Layers a workload does not exercise read 0."""
    import tracing

    counters = tracing.group_counters(event_dir)
    med = lambda name: statistics.median(run.samples[name]) if run.samples.get(name) else 0  # noqa: E731
    build = tracing.per_call(counters, run.tr, "index.builder", "build")
    single = tracing.per_call(counters, run.tr, "index.query", "topk_pruned")
    batch = tracing.per_call(counters, run.tr, "index.query", "topk_batch")
    apply = tracing.per_call(counters, run.tr, "sources.changes", "apply_changes_to_index")
    changed = sum(run.samples.get("changes.n_changed", [])) or 1
    out = {name: 0 for name in LAYER_UNITS}
    out.update({
        **{f"builder.{k}": tracing.median_of(build, k) for k in
           ("jobs", "tasks", "task_ms", "shuffle_write_bytes", "input_bytes", "spill_bytes")},
        "query.plan_s": med("query.plan_s"), "query.exec_s": med("query.exec_s"),
        **{f"query.{k}": tracing.median_of(single, k) for k in
           ("jobs", "tasks", "shuffle_write_bytes", "input_bytes")},
        "query.refresh_s": med("query.refresh_s") or med("query.open_s"),
        "batch.plan_s": med("batch.plan_s"), "batch.exec_s": med("batch.exec_s"),
        "batch.task_ms": tracing.median_of(batch, "task_ms"),
        "batch.shuffle_write_bytes": tracing.median_of(batch, "shuffle_write_bytes"),
        "lineage.record_count_s": med("lineage.record_count_s"),
        "changes.apply_s": med("changes.apply_s"),
        "changes.n_changed": med("changes.n_changed"),
        "changes.tasks": tracing.median_of(apply, "tasks"),
        "changes.input_bytes_per_changed_doc": sum(c["input_bytes"] for c in apply) / changed,
        "changes.output_bytes_per_changed_doc": sum(c["output_bytes"] for c in apply) / changed,
        "segments.fold_s": med("segments.fold_s"),
        "segments.list_s": med("segments.list_s"),
    })
    out.update(run.layer)
    return out


def run_workload(name: str, sizes: dict, seed: int, trace: bool, run_dir: str,
                 spark=None) -> tuple[object, dict]:
    """Run one workload; ``spark`` reuses a session (smoke mode)."""
    import probes
    import tracing
    import workloads

    record: dict = {"workload": name, "seed": seed, "trace": trace}
    os.makedirs(run_dir, exist_ok=True)
    own = spark is None
    cache = cache_paths(sizes, "full" if own else "smoke")
    t_fill, c_fill = time.monotonic(), workloads.Run.cpu()
    if own and not all(os.path.exists(cache[k]) for k in ("corpus", "serve_index", "cdc_index")):
        # a JVM of its own, so the measured one starts as cold as on every run
        subprocess.run([sys.executable, os.path.abspath(__file__), "--fill-cache"],
                       stdout=sys.stderr, check=True)
    elif not own:
        fill_cache(spark, sizes, "smoke")
    record["cache_fill_s"] = time.monotonic() - t_fill
    # the fill child's CPU is reaped into this process's counters
    fill_cpu = workloads.Run.cpu() - c_fill
    t_session, c_session = time.monotonic(), workloads.Run.cpu()
    if own:
        spark = start_session(run_dir, trace)
    record["session_start_s"] = time.monotonic() - t_session
    try:
        tr = tracing.Tracer(trace, spark.sparkContext if trace else None)
        run = workloads.Run(spark, tr, sizes, seed, run_dir, cache)
        record["loadavg_before"] = probes.loadavg_1m()
        sampler = probes.RssSampler() if trace else None
        if sampler:
            sampler.__enter__()
        try:
            workloads.WORKLOADS[name](run)
        finally:
            if sampler:
                sampler.__exit__(None, None, None)
        record["loadavg_after"] = probes.loadavg_1m()
    finally:
        if own:
            stop_session(spark)
    # set-up: process start to the first timed operation, less the
    # one-time cache fill (smoke mode: session start to it); setup_s is
    # the process tree's CPU seconds over it, wall.setup_s its wall time
    if own:
        run.wall["setup_s"] = run.first_timed - T_START - record["cache_fill_s"]
        run.e2e["setup_s"] = run.cpu_start - fill_cpu
    else:
        run.wall["setup_s"] = run.first_timed - t_session
        run.e2e["setup_s"] = run.cpu_start - c_session
    record.update({
        "steal_ticks": run.steal_end - run.steal_start,
        "timed_cpu_s": run.cpu_end - run.cpu_start,
        "wall": run.wall,
        "timed_window_s": run.last_timed - run.first_timed,
        "failures": run.failures,
        "samples": run.samples,
        "self_s": run.tr.self_times(),
    })
    if trace:
        run.layer["session.start_s"] = record["session_start_s"]
        run.layer["session.peak_rss_mb"] = sampler.peak_kb / 1024
        run.layer["session.timed_cpu_s"] = record["timed_cpu_s"]
        record["traced_end_to_end"] = dict(run.e2e)
        record["traced_wall"] = dict(run.wall)
        run.layer.update({f"wall.{k}": v for k, v in run.wall.items()})
        run.tr.dump(os.path.join(WORK, "records", f"{name}-seed{seed}-spans.json"))
        layers = layer_metrics(run, os.path.join(run_dir, "events"))
        metrics = {k: (layers[k], u) for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: (run.e2e[k], u) for k, u in END_TO_END_UNITS.items()}
    return run, {"record": record, "metrics": metrics}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["serve", "cdc"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload and its checks at toy sizes in one session")
    ap.add_argument("--fill-cache", action="store_true",
                    help="only write the per-checkout corpus and base indexes")
    args = ap.parse_args(argv)
    if not (args.smoke or args.fill_cache or args.workload):
        ap.error("--workload is required unless --smoke or --fill-cache")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"e2ebench: {PACKAGE} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "smoke" if args.smoke else "fill" if args.fill_cache else "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    record = {"argv": sys.argv[1:], "nproc": os.cpu_count(), "seconds": args.seconds,
              "env": pin_environment(run_dir)}
    sys.path.insert(0, HERE)
    import workloads

    if args.fill_cache:
        spark = start_session(run_dir, trace=False)
        try:
            fill_cache(spark, workloads.SIZES["full"], "full")
        finally:
            stop_session(spark)
        return 0
    if args.smoke:
        spark = start_session(run_dir, trace=False)
        attempted = failed = 0
        metrics = {}
        try:
            for name in ("serve", "cdc"):
                run, out = run_workload(name, workloads.SIZES["smoke"], args.seed, False,
                                        os.path.join(run_dir, name), spark=spark)
                attempted += run.attempted
                failed += run.failed
                record[name] = out["record"]
                metrics.update({f"{name}.{k}": v for k, v in out["metrics"].items()})
        finally:
            stop_session(spark)
    else:
        run, out = run_workload(args.workload, workloads.SIZES["full"], args.seed,
                                bool(args.trace), run_dir)
        attempted, failed, metrics = run.attempted, run.failed, out["metrics"]
        record.update(out["record"])
    records = os.path.join(WORK, "records")
    tag = "smoke" if args.smoke else f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("e2ebench record: " + json.dumps({k: v for k, v in record.items() if k != "samples"}),
          file=sys.stderr)
    print(result_line(failed == 0, attempted, failed, metrics), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
