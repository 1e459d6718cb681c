"""The workloads. Each drives the library's public API from one
client thread (closed loop) and does a fixed, seeded number of
operations. ``Run`` collects the timings, the check outcomes and, on a
traced run, the per-layer numbers.

Layers are the library's modules; every call into one sits inside a
``Tracer`` span named after it (see tracing.py).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import probes

CORPUS_KEYS = ["repo", "path"]
BATCH_SIZE = 64
K = 10
SCORE_TOL = 1e-9

# Query vocabulary over the synthetic corpus (corpus.synth_corpus): hot
# terms sit in most docs, mid terms in one language's docs (~20 %), rare
# terms in ~1 %. Each tier is Zipf-ranked in list order.
HOT = ["buffer", "index", "getValue", "parseInput", "return", "localVar7", "helper_func_3"]
MID = ["func", "package", "defer", "chan", "def", "yield", "lambda", "public",
       "extends", "void", "function", "const", "async", "await", "struct",
       "sizeof", "class", "import", "static"]
RARE = ["quasarFlux", "zephyrDelta", "obsidian_marker", "kraken_sentinel", "quasar", "kraken"]
TIERS = [(HOT, 0.5), (MID, 0.35), (RARE, 0.15)]
N_TERMS = ([1, 2, 3, 4], [0.35, 0.35, 0.2, 0.1])
ALL_SHARE = 0.2

# Sizes per mode. "full" is what BENCHMARK.json runs; "smoke" runs every
# workload and its checks at toy sizes.
SIZES = {
    "full": {
        "serve_docs": 20_000, "serve_warm": 6, "serve_singles": 12,
        "serve_batches": 4, "exact_sample": 1,
        "cdc_docs": 10_000, "cdc_batches": 2, "cdc_share": 0.005,
        "cdc_singles": 1, "cdc_warm": 1,
    },
    "smoke": {
        "serve_docs": 1_500, "serve_warm": 1, "serve_singles": 3,
        "serve_batches": 1, "exact_sample": 1,
        "cdc_docs": 1_500, "cdc_batches": 1, "cdc_share": 0.02,
        "cdc_singles": 1, "cdc_warm": 1,
    },
}


def _quota(n: int, weights: list[float]) -> list[int]:
    """Split ``n`` by ``weights`` into whole counts (largest remainder)."""
    raw = [n * w / sum(weights) for w in weights]
    out = [int(x) for x in raw]
    for i in sorted(range(len(raw)), key=lambda i: out[i] - raw[i])[: n - sum(out)]:
        out[i] += 1
    return out


def query_mix(rng: random.Random, n: int) -> list[tuple[str, str]]:
    """``n`` seeded (text, mode) queries, stratified so that every seed
    gets the same make-up: term counts 1-4, conjunctive share and tier
    of each term slot are fixed quotas; the seed shuffles them and draws
    each term Zipf-ranked within its tier."""
    sizes = [k for k, c in zip(N_TERMS[0], _quota(n, N_TERMS[1])) for _ in range(c)]
    modes = ["all"] * round(n * ALL_SHARE)
    modes += ["any"] * (n - len(modes))
    tiers = [t for (t, _), c in zip(TIERS, _quota(sum(sizes), [w for _, w in TIERS]))
             for _ in range(c)]
    for xs in (sizes, modes, tiers):
        rng.shuffle(xs)
    slots = iter(tiers)
    out = []
    for k, mode in zip(sizes, modes):
        terms = []
        for _ in range(k):
            tier = next(slots)
            terms.append(rng.choices(tier, [1 / (r + 1) ** 1.1 for r in range(len(tier))])[0])
        out.append((" ".join(dict.fromkeys(terms)), mode))
    return out


def hits(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def same_topk(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    """Rank identity up to score ties: same length, scores equal within
    SCORE_TOL position by position, and the same doc_ids in every tie
    group except the last (which the k cut may split differently)."""
    if len(a) != len(b):
        return False
    if any(abs(x[1] - y[1]) > SCORE_TOL * max(1.0, abs(x[1])) for x, y in zip(a, b)):
        return False
    groups, start = [], 0
    for i in range(1, len(a) + 1):
        if i == len(a) or abs(a[i][1] - a[start][1]) > SCORE_TOL * max(1.0, abs(a[start][1])):
            groups.append((start, i))
            start = i
    return all(
        {d for d, _ in a[s:e]} == {d for d, _ in b[s:e]} for s, e in groups[:-1]
    )


class Run:
    """One benchmark run's state: session, tracer, timings and checks."""

    def __init__(self, spark, tracer, sizes, seed, work, cache):
        self.spark, self.tr, self.sizes, self.seed = spark, tracer, sizes, seed
        self.work, self.cache = work, cache
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.e2e: dict[str, float] = {}
        self.wall: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.first_timed: float | None = None
        self.last_timed: float | None = None
        self.steal_start = 0

    # ----- bookkeeping -----

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}" if detail else name)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    @staticmethod
    def cpu() -> float:
        """CPU seconds used so far by this process tree (see probes)."""
        return probes.tree_cpu_s(os.getpid())

    def timed(self) -> None:
        """Mark a timed operation: the first one ends set-up."""
        if self.first_timed is None:
            self.first_timed = time.monotonic()
            self.steal_start = probes.steal_ticks()
            self.cpu_start = self.cpu()

    def timed_done(self) -> None:
        self.last_timed = time.monotonic()
        self.steal_end = probes.steal_ticks()
        self.cpu_end = self.cpu()

    def op(self, name: str, fn, timed: bool = True):
        """Run one operation; an exception counts as a failed attempt
        and is re-raised (the workload cannot go on without it)."""
        if timed:
            self.timed()
        self.attempted += 1
        try:
            return fn()
        except Exception as e:
            self.failed += 1
            self.failures.append(f"{name}: {type(e).__name__}: {e}")
            raise

    # ----- library calls, one span each -----

    def single(self, q, text: str, mode: str, kind: str = "query", k: int = K):
        """One ``topk_pruned(...).collect()``; plan (the lazy DataFrame)
        and exec (``collect``) timed apart."""

        def go():
            with self.tr.span("index.query", "topk_pruned"):
                c0, t0 = self.cpu(), time.monotonic()
                df = q.topk_pruned(text, k, mode=mode)
                t1 = time.monotonic()
                out = hits(df)
                t2, c2 = time.monotonic(), self.cpu()
            self.sample(f"{kind}.plan_s", t1 - t0)
            self.sample(f"{kind}.exec_s", t2 - t1)
            self.sample(f"{kind}_s", t2 - t0)
            self.sample(f"{kind}_cpu_s", c2 - c0)
            return out

        return self.op(f"topk_pruned({text!r}, {mode})", go, timed=kind != "warm")

    def batch(self, q, queries: list[tuple[int, str]], kind: str = "batch"):
        def go():
            with self.tr.span("index.query", "topk_batch"):
                c0, t0 = self.cpu(), time.monotonic()
                df = q.topk_batch(queries, K)
                t1 = time.monotonic()
                rows = df.collect()
                t2, c2 = time.monotonic(), self.cpu()
            self.sample(f"{kind}.plan_s", t1 - t0)
            self.sample(f"{kind}.exec_s", t2 - t1)
            self.sample(f"{kind}_s", t2 - t0)
            self.sample(f"{kind}_cpu_s", c2 - c0)
            out: dict[int, list[tuple[int, float]]] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], -r["score"], r["doc_id"])):
                out.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r["score"])))
            return out

        return self.op("topk_batch", go, timed=kind != "warm")

    def open_handle(self, idx: str):
        from go_dcp_elasticsearch_spark.index.query import BM25Query

        with self.tr.span("index.query", "open"):
            t0 = time.monotonic()
            q = BM25Query(self.spark, idx)
            self.sample("query.open_s", time.monotonic() - t0)
        if self.tr.enabled:
            # time the handle's own epoch-driven refreshes (after applies)
            inner = q.refresh

            def refresh():
                t = time.monotonic()
                with self.tr.span("index.query", "refresh"):
                    out = inner()
                self.sample("query.refresh_s", time.monotonic() - t)
                return out

            q.refresh = refresh
        return q

    def exact_matches(self, q, queries, got: list[list[tuple[int, float]]]) -> None:
        for (text, mode), pruned in zip(queries, got):
            with self.tr.span("index.query", "topk_exact"):
                exact = hits(q.topk_exact(text, K, mode=mode))
            self.check(f"pruned==exact {text!r} {mode}", same_topk(pruned, exact),
                       f"{pruned[:3]} vs {exact[:3]}")

    def verify(self, idx: str, source) -> dict:
        from go_dcp_elasticsearch_spark.index.verify import verify_index_against_source

        with self.tr.span("index.verify", "verify_index_against_source"):
            rep = verify_index_against_source(self.spark, idx, source)
        for key in ("missing_in_index", "extra_in_index", "sha_mismatch"):
            self.check(f"verify {key}", rep[key] == 0, str(rep[key]))
        return rep

    # ----- traced-only layer probes -----

    def build_probe(self, source, distinct: int) -> None:
        """``IndexBuilder.build`` (default ``id_mode="sorted"``: the
        last-write-wins dedup shuffle) over ``source``, after the workload,
        in the run's warm JVM."""
        from go_dcp_elasticsearch_spark.index.builder import IndexBuilder

        out = os.path.join(self.work, "probe_index")
        with self.tr.span("index.builder", "build"):
            t0 = time.monotonic()
            res = IndexBuilder(self.spark, out, n_shards=n_shards()).build(source)
            self.layer["builder.build_s"] = time.monotonic() - t0
        self.check("probe build n_docs == distinct keys", res["n_docs"] == distinct,
                   f"{res['n_docs']} != {distinct}")

    def layer_probes(self, idx: str, source) -> None:
        """Per-layer numbers that need extra work: run on traced runs only,
        after the workload, so they never touch the timed operations."""
        import pyarrow.dataset as ds
        from pyspark.sql import functions as F

        from go_dcp_elasticsearch_spark.corpus import synth_corpus
        from go_dcp_elasticsearch_spark.index.builder import IndexPaths
        from go_dcp_elasticsearch_spark.index.segments import list_segments
        from go_dcp_elasticsearch_spark.plans.lineage import LineageLog

        spark, paths = self.spark, IndexPaths(idx)
        with self.tr.span("corpus", "synth_corpus"):
            t0 = time.monotonic()
            synth_corpus(spark, 5_000).count()
            self.layer["corpus.generate_s"] = time.monotonic() - t0
        log = LineageLog(spark, paths.lineage)
        for _ in range(20):
            with self.tr.span("plans.lineage", "record_count"):
                t0 = time.monotonic()
                log.record_count()
                self.sample("lineage.record_count_s", time.monotonic() - t0)
        for _ in range(5):
            with self.tr.span("index.segments", "list_segments"):
                t0 = time.monotonic()
                list_segments(spark, paths)
                self.sample("segments.list_s", time.monotonic() - t0)
        with self.tr.span("bench", "content_bytes"):
            src_bytes = source.agg(F.sum(F.length("content"))).collect()[0][0]
        self.layer["index.bytes_per_source_byte"] = dir_bytes(idx) / src_bytes

        corpus = ds.dataset(self.cache["corpus"], format="parquet")
        contents = corpus.head(300, columns=["content"]).column("content").to_pylist()
        blocks = ds.dataset(paths.postings, format="parquet", partitioning="hive").head(
            2_000, columns=["ids_vb", "tfs_vb"])
        pairs = list(zip(blocks.column("ids_vb").to_pylist(), blocks.column("tfs_vb").to_pylist()))
        with self.tr.span("functions", "kernel_probes"):
            self.layer.update(probes.kernel_rates(contents, pairs, self.seed))


def n_shards() -> int:
    """One index shard per core of the session (``local[nproc]``)."""
    return int(os.environ["SPARK_GRAFT_CPUS"])


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def corpus_frame(run: Run, n_docs: int):
    from pyspark.sql import functions as F

    return run.spark.read.parquet(run.cache["corpus"]).filter(F.col("seq_no") < n_docs)


# --------------------------------------------------------------- serve


def serve(run: Run) -> None:
    """Closed loop of single ``topk_pruned(k=10)`` calls with a fixed
    64-query ``topk_batch`` after every few, over a clean index."""
    s = run.sizes
    q = run.open_handle(run.cache["serve_index"])
    # the batch is the same on every seed; the warm-up singles are its
    # first queries, which also checks the batch against them
    batch_q = [(i, t) for i, (t, _) in enumerate(query_mix(random.Random(0), BATCH_SIZE))]
    warm = [(t, "any") for _, t in batch_q[: s["serve_warm"]]]
    timed = query_mix(run.rng, s["serve_singles"])

    warm_hits = [run.single(q, text, mode, kind="warm") for text, mode in warm]
    run.batch(q, batch_q, kind="warm")

    singles, batches = [], []
    every = max(1, len(timed) // s["serve_batches"])
    for i, (text, mode) in enumerate(timed):
        singles.append(run.single(q, text, mode))
        if (i + 1) % every == 0 and len(batches) < s["serve_batches"]:
            batches.append(run.batch(q, batch_q))
    run.timed_done()

    # checks, outside the timed window
    for i, ((text, _), got) in enumerate(zip(warm, warm_hits)):
        for b in batches:
            run.check(f"batch==single {text!r}", same_topk(b.get(i, []), got),
                      f"{b.get(i, [])[:3]} vs {got[:3]}")
    run.exact_matches(q, timed[: s["exact_sample"]], singles[: s["exact_sample"]])

    run.e2e["op_cpu_s"] = statistics.median(run.samples["query_cpu_s"])
    run.e2e["work_per_cpu_s"] = len(batch_q) / statistics.median(run.samples["batch_cpu_s"])
    run.wall["latency_p50_s"] = statistics.median(run.samples["query_s"])
    run.wall["throughput_per_s"] = len(batch_q) / statistics.median(run.samples["batch_s"])
    if run.tr.enabled:
        run.layer_probes(run.cache["serve_index"], corpus_frame(run, s["serve_docs"]))


# ----------------------------------------------------------------- cdc


def _plan_batches(run: Run, n_docs: int, n_batches: int, share: float) -> list[dict]:
    """Seeded change batches over distinct rows: ~80 % upserts (one in
    ten a new key) carrying the batch's planted token, ~20 % deletes."""
    rows = list(range(n_docs))
    run.rng.shuffle(rows)
    size = max(2, round(share * n_docs))
    out = []
    for b in range(n_batches):
        picked, rows = rows[:size], rows[size:]
        n_del = max(1, size // 5)
        ups = picked[n_del:]
        n_new = max(1, len(ups) // 10)
        out.append({
            "token": f"zzplant{run.seed}x{b}",
            "deletes": picked[:n_del],
            "updates": ups[n_new:],
            "inserts": [f"src/new/s{run.seed}b{b}i{i}.py" for i in range(n_new)],
        })
    return out


def cdc_source(spark, corpus: str, n_docs: int):
    """The change workload's source: the corpus prefix plus newer-commit
    duplicates of every 13th row (``corpus.with_duplicates``)."""
    from pyspark.sql import functions as F

    from go_dcp_elasticsearch_spark.corpus import with_duplicates

    return with_duplicates(spark.read.parquet(corpus).filter(F.col("seq_no") < n_docs))


def cdc(run: Run) -> None:
    """Set-up: a copy of the cached base index over ``cdc_source``.
    Timed: seeded change batches through ``apply_changes_to_index(
    strategy="delta")``, each followed by a visibility probe on the held
    handle and single queries over the pending segments;
    ``fold_segments`` at the end."""
    import pandas as pd
    import pyarrow.dataset as ds
    from pyspark.sql import functions as F

    from go_dcp_elasticsearch_spark.index import keymap as km_mod
    from go_dcp_elasticsearch_spark.index.builder import IndexPaths, dedup_last_write_wins
    from go_dcp_elasticsearch_spark.index.segments import (
        fold_segments,
        list_segments,
        read_docs,
        tombstone_ids,
    )
    from go_dcp_elasticsearch_spark.plans.lineage import LineageLog
    from go_dcp_elasticsearch_spark.sources.changes import apply_changes_to_index

    s, spark = run.sizes, run.spark
    idx = os.path.join(run.work, "cdc_index")
    shutil.copytree(run.cache["cdc_index"], idx)
    base = cdc_source(spark, run.cache["corpus"], s["cdc_docs"])
    q = run.open_handle(idx)
    n_base = q.n_docs
    # one stratified mix for the whole run: warm-up, churn singles, exact check
    mix = iter(query_mix(run.rng, s["cdc_warm"] + s["cdc_batches"] * s["cdc_singles"] + 1))
    for _ in range(s["cdc_warm"]):
        run.single(q, *next(mix), kind="warm")

    plan = _plan_batches(run, s["cdc_docs"], s["cdc_batches"], s["cdc_share"])
    touched = [r for b in plan for r in b["deletes"] + b["updates"]]
    orig = ds.dataset(run.cache["corpus"], format="parquet").to_table(
        columns=["repo", "path", "commit", "lang", "content", "seq_no"],
        filter=ds.field("seq_no").isin(touched),
    ).to_pandas().set_index("seq_no")
    gone: list[tuple[str, str]] = []   # keys whose base row is replaced or deleted
    live: list[dict] = []              # upserted rows, latest content
    routes, keymap_used = [], 0
    planted: list[tuple[str, str]] = []
    deleted: list[tuple[str, str]] = []
    paths = IndexPaths(idx)
    schema = "repo string, path string, commit string, lang string, content string, seq_no int"

    for b, bt in enumerate(plan):
        seq = 2_000_000 + 10_000 * b
        ups = []
        for i, r in enumerate(bt["updates"]):
            o = orig.loc[r]
            ups.append({"repo": o["repo"], "path": o["path"], "commit": f"u{b}{o['commit'][2:]}",
                        "lang": o["lang"], "content": f"{o['content']} {bt['token']}",
                        "seq_no": seq + i})
        donor = orig.loc[bt["updates"][0]] if bt["updates"] else orig.iloc[0]
        for i, p in enumerate(bt["inserts"]):
            ups.append({"repo": "org9/newrepo", "path": p, "commit": f"n{b:03d}{i:07d}",
                        "lang": "python", "content": f"{donor['content']} {bt['token']}",
                        "seq_no": seq + 5_000 + i})
        dels = [(orig.loc[r]["repo"], orig.loc[r]["path"]) for r in bt["deletes"]]
        gone += [(u["repo"], u["path"]) for u in ups[: len(bt["updates"])]] + dels
        live += ups
        changes = spark.createDataFrame(
            pd.DataFrame(
                [(u["repo"], u["path"], "index", u["seq_no"]) for u in ups]
                + [(k[0], k[1], "delete", seq + 9_000 + i) for i, k in enumerate(dels)],
                columns=["repo", "path", "action", "seq_no"],
            )
        )
        gone_df = spark.createDataFrame(pd.DataFrame(gone, columns=CORPUS_KEYS))
        new_corpus = base.join(F.broadcast(gone_df), CORPUS_KEYS, "left_anti").unionByName(
            spark.createDataFrame(pd.DataFrame(live), schema)
        )
        if run.tr.enabled:
            kmeta = km_mod.valid_meta(spark, paths, CORPUS_KEYS,
                                      LineageLog(spark, paths.lineage).record_count())
            keymap_used += kmeta is not None

        def apply():
            with run.tr.span("sources.changes", "apply_changes_to_index"):
                return apply_changes_to_index(spark, idx, new_corpus, changes, strategy="delta")

        c0, t0 = run.cpu(), time.monotonic()
        res = run.op("apply_changes_to_index", apply)
        t_apply, c_apply = time.monotonic() - t0, run.cpu() - c0
        n_up = len(ups)
        got, tries = [], 0
        while len(got) != n_up and tries < 5:
            got = run.single(q, bt["token"], "any", kind="probe", k=n_up + 10)
            tries += 1
        t_visible, c_visible = time.monotonic() - t0, run.cpu() - c0
        run.check(f"batch {b} visible", len(got) == n_up, f"{len(got)} of {n_up} after {tries} probes")
        run.sample("changes.apply_s", t_apply)
        run.sample("apply_cpu_s", c_apply)
        run.sample("visible_s", t_visible)
        run.sample("visible_cpu_s", c_visible)
        run.sample("changes.n_changed", res["n_changed"])
        routes.append(res["strategy"])
        for _ in range(s["cdc_singles"]):
            run.single(q, *next(mix))
        run.timed_done()

        run.check(f"batch {b} n_changed", res["n_changed"] == n_up + len(dels),
                  f"{res['n_changed']} != {n_up + len(dels)}")
        planted += [(u["repo"], u["path"]) for u in ups]
        deleted += dels

    if run.tr.enabled:
        run.layer["segments.n_segments"] = len(list_segments(spark, paths))
        run.layer["segments.n_tombstones"] = len(tombstone_ids(spark, paths))

    def fold():
        with run.tr.span("index.segments", "fold_segments"):
            return fold_segments(spark, idx)

    c0, t0 = run.cpu(), time.monotonic()
    run.op("fold_segments", fold)
    t_fold, c_fold = time.monotonic() - t0, run.cpu() - c0
    run.sample("segments.fold_s", t_fold)
    run.timed_done()

    # checks, after the timed operations: the planted tokens find exactly
    # the upserted keys, the deleted keys are gone, the index matches the
    # post-change source
    tokens = " ".join(bt["token"] for bt in plan)
    with run.tr.span("index.query", "with_meta"):
        keys = q.with_meta(q.topk_pruned(tokens, len(planted) + 10)).select(*CORPUS_KEYS).collect()
    run.check("planted keys", sorted(tuple(r) for r in keys) == sorted(planted),
              f"{len(keys)} found, {len(planted)} planted")
    with run.tr.span("index.segments", "read_docs"):
        still = read_docs(spark, idx).join(
            F.broadcast(spark.createDataFrame(pd.DataFrame(deleted, columns=CORPUS_KEYS))),
            CORPUS_KEYS,
        ).count()
    run.check("deletes gone", still == 0, f"{still} deleted keys live")

    rep = run.verify(idx, dedup_last_write_wins(new_corpus))
    run.check("verify n_docs", rep["n_docs"] == rep["n_source"], str(rep))
    # distinct source keys at build time, from the verified final count
    distinct = rep["n_source"] + len(deleted) - sum(len(bt["inserts"]) for bt in plan)
    run.check("base n_docs == distinct keys", n_base == distinct, f"{n_base} != {distinct}")
    text, _ = next(mix)
    sample = [(f"{plan[-1]['token']} {text}", "any")]
    run.exact_matches(q, sample, [hits(q.topk_pruned(t, K, mode=m)) for t, m in sample])

    changed = sum(run.samples["changes.n_changed"])
    run.e2e["op_cpu_s"] = statistics.median(run.samples["visible_cpu_s"])
    run.e2e["work_per_cpu_s"] = changed / (sum(run.samples["apply_cpu_s"]) + c_fold)
    run.wall["latency_p50_s"] = statistics.median(run.samples["visible_s"])
    run.wall["throughput_per_s"] = changed / (sum(run.samples["changes.apply_s"]) + t_fold)
    if run.tr.enabled:
        # route code: 1 = every timed apply took the delta path, 2 = not
        run.layer["changes.route"] = 1 if all(r == "delta" for r in routes) else 2
        run.layer["keymap.used"] = keymap_used
        run.build_probe(base, distinct)
        run.layer_probes(idx, dedup_last_write_wins(new_corpus))


WORKLOADS = {"serve": serve, "cdc": cdc}
