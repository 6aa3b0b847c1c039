"""perfbench: the repository's benchmark, one seeded run per call.

    python3 perfbench/run.py --workload serve_head --seed 1 --seconds 10 --trace 0

Run from the repository root. One Python process drives Spark ``local[nproc]``
(driver heap sized from /proc/meminfo) and one closed-loop, single-threaded
query client that sends the next query only after the last one returned.

Each run, whatever the workload:

1. set-up: JVM start and warm-up, seeded corpus generation, parquet write and
   persist, and the cold ``build_index`` of the index that is served
   (``setup_s``);
2. a second, warm ``build_index`` of the same corpus up to materialized
   postings (``build_docs_per_cpu_s``);
3. ``LocalIndexServer`` loads (``serve_rss_mb``), then the workload's query
   mix through the single-node, 4-shard broker and web-query tiers, taking
   turns for ``--seconds`` in all.

Every timed operation runs warm: a cold JVM makes the first ``build_index``
and server load two to three times slower, and that first-time cost swings
more than the warm work after it. Before each timed phase the
Python and JVM heaps are collected, so that neither pays for garbage an
earlier phase left.

``serve_head`` draws queries from documents, so Zipf head terms dominate;
``serve_tail`` queries rare terms, where pruning has work to do.

Outputs are checked outside the timed windows; a failed check counts the
operation as failed. ``--trace 1`` wraps engine calls from this directory
and reports per-layer metrics instead of end-to-end ones. The last stdout
line is one JSON object; a full artifact (host telemetry per phase, Spark
stage rows, spans) goes to ``.perfbench_run/artifacts/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_DIR = ROOT / ".perfbench_run"
WORK = RUN_DIR / "work"
ARTIFACTS = RUN_DIR / "artifacts"

WORKLOADS = ("serve_head", "serve_tail")
K = 10
N_SHARDS = 4
BATCH_QUERIES = 400
CHECK_QUERIES = 20
WARM_QUERIES = 50
SERVE_LOADS = 5     # timed and held server loads after an untimed one
SERVE_ROUNDS = 8
DEADLINE_S = 170    # a run that has not finished by then stops Spark and fails
# share of --seconds each serving tier runs; the slower tiers get more, so
# that each collects enough samples for its upper percentile
TIER_SHARES = {"local": 0.25, "broker": 0.3, "web": 0.45}

END_TO_END_UNITS = {
    "setup_s": "s",
    "build_docs_per_cpu_s": "docs/cpu-s",
    "index_bytes_per_posting": "B",
    "serve_rss_mb": "MB",
    "serve_p50_ms": "ms",
    "serve_p90_ms": "ms",
    "broker_p50_ms": "ms",
    "broker_p90_ms": "ms",
    "web_p90_ms": "ms",
}


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="serving window, shared by the three tiers")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


class Ops:
    """Operations attempted and failed; a failure keeps its reason."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.reasons) < 50:
            self.reasons.append(what)


def closed_loop(fn, queries: list[str], ops: Ops, tier: str,
                budget_s: float | None = None, count: int | None = None,
                start: int = 0, tracer=None, after=None):
    """Send queries one at a time from index ``start``, each after the last
    returned, until ``budget_s`` has passed or ``count`` queries were sent;
    returns (latencies in ms, results)."""
    lat, results = [], []
    clock = time.perf_counter
    deadline = clock() + (budget_s or 0.0)
    i = start
    while count is None or i < start + count:
        q = queries[i % len(queries)]
        if tracer is not None:
            tracer.tier, tracer.request = tier, i
        t0 = clock()
        try:
            r = fn(q)
        except Exception:  # noqa: BLE001 -- a failed query is counted, not fatal
            r = None
            traceback.print_exc(file=sys.stderr)
        t1 = clock()
        ops.record(r is not None, f"{tier} query raised: {q!r}")
        lat.append((t1 - t0) * 1000.0)
        results.append(r)
        if after is not None:
            after()
        i += 1
        if count is None and t1 >= deadline:
            break
    return lat, results


def host_spark(spark_mod, nproc: int, heap_mb: int):
    spark = spark_mod.get_spark(
        master=f"local[{nproc}]",
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -Djava.io.tmpdir={WORK / 'tmp'}",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark_mod.warm_python_workers(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def settle(sc) -> None:
    """Collect the Python and JVM heaps, and move every Python object alive
    now out of the collector's reach: a full collection in a timed phase
    then scans only what that phase allocated, not the corpus, reference
    token lists and servers the benchmark holds."""
    gc.collect()
    gc.freeze()
    sc._jvm.java.lang.System.gc()


def same_ranking(a, b) -> bool:
    return a is not None and b is not None and len(a) == len(b) and all(
        x[0] == y[0] and np.float32(x[1]) == np.float32(y[1])
        for x, y in zip(a, b)
    )


def web_result_ok(raw: str, result, tokens_by_url: dict, tokenize_py) -> bool:
    """Every returned doc contains the quoted phrase and every token."""
    phrase = tokenize_py(raw.split('"')[1])
    needed = set(tokenize_py(raw))
    for url, _ in result:
        toks = tokens_by_url[url]
        if not needed <= set(toks):
            return False
        n = len(phrase)
        if not any(toks[i:i + n] == phrase for i in range(len(toks) - n + 1)):
            return False
    return True


def percentile(lat_ms: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(lat_ms), q))


def run(args: argparse.Namespace) -> dict:
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # the engine must be importable before anything is started
    from pyspark.sql import functions as F

    from splade_spark import session as spark_mod
    from splade_spark.functions.tokenize import tokenize_py
    from splade_spark.operators.indexing import build_index
    from splade_spark.operators.merge import upsert_docs
    from splade_spark.operators.query import LocalIndexServer, retrieve
    from splade_spark.operators.sharding import ShardedServer
    from splade_spark.operators.webserve import PositionalStore, WebQueryServer

    import host
    import inputs
    import tracing

    nproc = len(os.sched_getaffinity(0))
    mem = host.meminfo_mb()
    heap_mb = host.driver_heap_mb(mem["MemTotal"])
    spill_dir = WORK / "spark-local"
    shutil.rmtree(WORK, ignore_errors=True)
    for d in (WORK / "tmp", spill_dir, ARTIFACTS):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(spill_dir)
    os.environ["TMPDIR"] = str(WORK / "tmp")

    ops = Ops()
    log = host.PhaseLog()
    tracer = tracing.Tracer() if args.trace else None
    art: dict = {
        "args": vars(args),
        "host": {"nproc": nproc, "mem_total_mb": mem["MemTotal"],
                 "mem_available_mb": mem["MemAvailable"],
                 "driver_heap_mb": heap_mb, "spill_dir": str(spill_dir),
                 "master": f"local[{nproc}]"},
        "sizes": {"docs": inputs.N_DOCS, "upsert_docs": inputs.UPSERT_DOCS,
                  "query_pool": inputs.QUERY_POOL, "web_pool": inputs.WEB_POOL,
                  "batch_queries": BATCH_QUERIES, "k": K,
                  "shards": N_SHARDS},
    }
    e2e: dict[str, float] = {}
    timeline: dict[str, float] = {}
    art["timeline_s"] = timeline

    def mark(label: str) -> None:
        timeline[label] = time.perf_counter() - T_START

    layers: dict[str, float] = {}
    stage_tables: dict[str, list] = {}

    # ---- set-up -----------------------------------------------------------
    spark = host_spark(spark_mod, nproc, heap_mb)
    sc = spark.sparkContext
    mark("spark_started")
    try:
        pages = inputs.corpus(args.seed)
        ref = inputs.Reference(pages)
        if args.workload == "serve_head":
            queries = inputs.head_queries(pages, ref, args.seed)
        else:
            queries = inputs.tail_queries(ref, args.seed)
        web_qs = inputs.web_queries(pages, ref, args.seed)
        mark("inputs_generated")
        corpus_path = str(WORK / "corpus.parquet")
        pq.write_table(pa.Table.from_pandas(pages, preserve_index=False),
                       corpus_path)
        docs = (spark.read.parquet(corpus_path)
                .withColumnRenamed("url", "doc_id")
                .repartition(nproc).persist())
        docs.count()
        idx = build_index(docs, id_col="doc_id", text_col="text")
        n_blocks = idx.postings.count()
        e2e["setup_s"] = time.perf_counter() - T_START
        mark("index_built")

        # ---- write path -------------------------------------------------------
        settle(sc)
        cpu0 = host.tree_cpu_s(os.getpid())
        with log.phase("build") as ph, tracing.job_group(sc, "indexing"):
            again = build_index(docs, id_col="doc_id", text_col="text")
            again.postings.count()
        # per CPU-second of this process tree, not per second: the wall time
        # of a build that keeps every vCPU busy follows the host's CPU steal
        # of the moment (4.6 s at 2% steal, 7.8 s at 23%)
        art["build_docs_per_s"] = inputs.N_DOCS / (time.perf_counter() - ph.t0)
        e2e["build_docs_per_cpu_s"] = inputs.N_DOCS / (
            host.tree_cpu_s(os.getpid()) - cpu0)
        got = (int(again.meta["n_docs"]), int(again.meta["nnz"]))
        ops.record(got == (ref.n_docs, ref.nnz),
                   f"timed build: (n_docs, nnz) {got}")
        again.unpersist()
        sizes = idx.postings.agg(
            F.sum(F.length("doc_gaps") + F.length("weights"))).collect()[0][0]
        nnz = int(idx.meta["nnz"])
        e2e["index_bytes_per_posting"] = sizes / max(1, nnz)
        df_sample = ref.df_sample(args.seed)
        got_df = dict(idx.term_dict.filter(F.col("term").isin(list(df_sample)))
                      .select("term", "df").collect())
        build_ok = (int(idx.meta["n_docs"]) == ref.n_docs and nnz == ref.nnz
                    and got_df == df_sample)
        ops.record(build_ok, f"build: n_docs {idx.meta['n_docs']}/{ref.n_docs}"
                   f" nnz {nnz}/{ref.nnz} df sample equal {got_df == df_sample}")
        mark("build_checked")

        if tracer is not None:
            # the fold runs in traced runs only: its ~65 Spark stages cost
            # more than the whole serving window, and every untraced run
            # must fit the benchmark's time budget
            batch_pdf = inputs.upsert_batch(pages, args.seed)
            batch_df = (spark.createDataFrame(batch_pdf)
                        .withColumnRenamed("url", "doc_id").persist())
            batch_df.count()
            with log.phase("upsert"), tracing.job_group(sc, "merge"):
                up = upsert_docs(idx, batch_df, id_col="doc_id",
                                 text_col="text")
                up.postings.count()
            want = ref.after_upsert(batch_pdf)
            got = (int(up.meta["n_docs"]), int(up.meta["nnz"]))
            ops.record(got == want, f"upsert: (n_docs, nnz) {got} != {want}")
            up.unpersist()
            mark("upsert_checked")
            layers.update({"indexing.nnz": nnz, "indexing.blocks": n_blocks})
            for layer, phase in (("indexing", "build"), ("merge", "upsert")):
                stage_tables[layer] = tracing.stage_rows(sc, layer)
                wall = next(p["wall_s"] for p in log.phases
                            if p["phase"] == phase)
                layers.update(tracing.spark_layer(layer, wall,
                                                  stage_tables[layer]))

        # ---- serving ----------------------------------------------------------
        if tracer is not None:
            tracer.install()
        LocalIndexServer(idx)  # untimed: the first load pays Arrow warm-up
        # several servers are loaded and held: the median load time, and the
        # mean RSS growth per held server, which spreads the load's
        # transient buffers over all of them
        settle(sc)
        rss0 = host.rss_mb()
        loaded, load_s = [], []
        for _ in range(SERVE_LOADS):
            with log.phase("serve_load") as ph:
                loaded.append(LocalIndexServer(idx))
            load_s.append(time.perf_counter() - ph.t0)
            gc.collect()
            gc.freeze()  # the next load's collections skip the held servers
        e2e["serve_rss_mb"] = (host.rss_mb() - rss0) / SERVE_LOADS
        # in the artifact only: three short Spark jobs whose time follows
        # the host's CPU steal of the moment (0.28 s at 5%, 0.58 s at 30%)
        art["serve_load_s"] = float(np.median(load_s))
        art["serve_load_samples_s"] = load_s
        srv = loaded[0]
        del loaded
        t0 = time.perf_counter()
        broker = ShardedServer(idx, N_SHARDS)
        art["broker_load_s"] = time.perf_counter() - t0
        mark("broker_loaded")
        web_vocab = sorted({t for q in web_qs for t in tokenize_py(q)})
        t0 = time.perf_counter()
        store = PositionalStore.from_rows(
            inputs.positional_rows(ref, web_vocab))
        wsrv = WebQueryServer(srv, store)
        art["web_load_s"] = time.perf_counter() - t0
        mark("web_loaded")

        tiers = {
            "local": (lambda q: srv.search(q, K), queries),
            "broker": (lambda q: broker.search(q, K, route=True), queries),
            "web": (lambda q: wsrv.search(q, K), web_qs),
        }
        settle(sc)
        # warm-up, which also lets the JVM's cleaner threads finish what the
        # collection handed them before the first timed query
        if tracer is not None:
            tracer.tier = "warm"
        for fn, qs in tiers.values():
            for q in qs[:WARM_QUERIES]:
                fn(q)
        lat: dict[str, list[float]] = {t: [] for t in tiers}
        res: dict[str, list] = {t: [] for t in tiers}
        untraced: list[float] = []
        shards_visited: list[int] = []
        after = None
        if tracer is not None:
            def after():
                if tracer.tier == "broker":
                    shards_visited.append(broker.last_shards_visited)
        art["serve_blocks"] = []
        # tiers take turns in short blocks, so that a slow host period
        # spreads over all of them instead of landing on one
        for _ in range(SERVE_ROUNDS):
            for tier, (fn, qs) in tiers.items():
                budget = args.seconds * TIER_SHARES[tier] / SERVE_ROUNDS
                start = len(lat[tier])
                with log.phase(tier):
                    if tracer is not None and tier == "local":
                        # tracing overhead: the same queries untraced first
                        tracer.uninstall()
                        plain, _ = closed_loop(fn, qs, Ops(), tier,
                                               budget / 2, start=start)
                        tracer.install()
                        untraced += plain
                        l, r = closed_loop(fn, qs, ops, tier,
                                           count=len(plain), start=start,
                                           tracer=tracer)
                    else:
                        l, r = closed_loop(fn, qs, ops, tier, budget,
                                           start=start, tracer=tracer,
                                           after=after)
                lat[tier] += l
                res[tier] += r
                art["serve_blocks"].append(
                    {"tier": tier, "queries": len(l),
                     "p50_ms": percentile(l, 50)})
        if tracer is not None:
            layers["trace.overhead_ms"] = (
                percentile(lat["local"], 50) - percentile(untraced, 50))
        art["tier_latency_ms"] = {
            tier: {f"p{q}": percentile(lat[tier], q) for q in (50, 90, 99)}
            for tier in tiers}
        for tier, prefix in (("local", "serve"), ("broker", "broker")):
            e2e[f"{prefix}_p50_ms"] = percentile(lat[tier], 50)
            e2e[f"{prefix}_p90_ms"] = percentile(lat[tier], 90)
        e2e["web_p90_ms"] = percentile(lat["web"], 90)
        art["tier_queries"] = {t: len(v) for t, v in lat.items()}
        mark("tiers_done")
        if tracer is not None:
            # Spark pickles engine functions into its Python workers; they
            # must be the engine's own, not the wrappers
            tracer.uninstall()

        batch_rows = [(f"b{i:04d}", q) for i, q in
                      enumerate(queries[:BATCH_QUERIES])]
        # a seeded sample of batch queries through the exhaustive plan: the
        # reference the other tiers are checked against
        rng = np.random.default_rng(args.seed + 5)
        sample = sorted(rng.choice(len(batch_rows), size=CHECK_QUERIES,
                                   replace=False).tolist())
        sample_rows = [batch_rows[i] for i in sample]
        exact = retrieve(
            idx, spark.createDataFrame(sample_rows, "query_id string, text string"),
            k=K, strategy="exhaustive").collect()
        got_batch = None
        if tracer is not None:
            # the distributed WAND batch runs in traced runs only: like the
            # fold, one short chain of Spark jobs whose time follows the
            # host's CPU steal, so it gets no bound; the exhaustive batch
            # above is its warm-up
            qdf = spark.createDataFrame(batch_rows,
                                        "query_id string, text string")
            settle(sc)
            with log.phase("batch") as ph, tracing.job_group(sc, "query.batch"):
                got_batch = retrieve(idx, qdf, k=K, strategy="wand").collect()
            batch_s = time.perf_counter() - ph.t0
            mark("batch_done")
            stage_tables["query.batch"] = tracing.stage_rows(sc, "query.batch")
            layers.update(tracing.spark_layer(
                "query.batch", batch_s, stage_tables["query.batch"]))

        # ---- output checks (untimed) ----------------------------------------
        # broker and single node must agree on every query both served
        for q, a, b in zip(queries, res["local"], res["broker"]):
            if a is not None and not same_ranking(a, b):
                ops.fail(f"broker differs from local on {q!r}")
        for q, r in zip(web_qs, res["web"]):
            if r is not None and not web_result_ok(q, r, ref.tokens,
                                                   tokenize_py):
                ops.fail(f"web result misses phrase or token: {q!r}")

        def ranked(rows) -> dict[str, list]:
            out: dict[str, list] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
            return out

        exact_by_q = ranked(exact)
        for qid, text in sample_rows:
            want_q = exact_by_q.get(qid, [])
            for tier in ("local", "broker"):
                ops.record(same_ranking(tiers[tier][0](text), want_q),
                           f"{tier} differs from exhaustive on {text!r}")
        if got_batch is not None:
            batch_by_q = ranked(got_batch)
            ops.record(all(same_ranking(batch_by_q.get(qid, []),
                                        exact_by_q.get(qid, []))
                           for qid, _ in sample_rows),
                       "wand batch differs from exhaustive")
        mark("checked")

        if tracer is not None:
            web_empty = sum(1 for r in res["web"] if not r)
            layers.update(tracer.layer_metrics(
                art["tier_queries"], shards_visited, N_SHARDS, web_empty))
            spans_path = ARTIFACTS / (
                f"spans-{args.workload}-seed{args.seed}.json")
            spans_path.write_text(json.dumps(
                {"fields": ["sid", "parent", "tier", "request", "name",
                            "t0", "t1", "n"], "spans": tracer.spans}))
            art["spans"] = str(spans_path.relative_to(ROOT))
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)
        mark("spark_stopped")
        shutil.rmtree(WORK, ignore_errors=True)

    totals = log.totals()
    if tracer is not None:
        layers.update({
            "host.nproc": nproc,
            "host.mem_total_mb": mem["MemTotal"],
            "host.steal_pct": totals["steal_pct"],
            "host.busy_pct": totals["busy_pct"],
            "host.loadavg": totals["loadavg"],
        })
    art.update({"phases": log.phases, "host_totals": totals,
                "end_to_end": e2e, "per_layer": layers,
                "spark_stages": stage_tables,
                "attempted": ops.attempted, "failed": ops.failed,
                "fail_ratio": ops.failed / max(1, ops.attempted),
                "failures": ops.reasons})
    return art


def main() -> int:
    args = parse_args()
    if os.environ.get("SPARK_GRAFT_TF_BACKEND"):
        print("perfbench: SPARK_GRAFT_TF_BACKEND is set; unset it so the "
              "shipped tf backend is what gets measured", file=sys.stderr)
        return 2

    def overrun(signum, frame):
        raise TimeoutError(f"perfbench: run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, overrun)
    signal.alarm(DEADLINE_S)
    art = run(args)
    signal.alarm(0)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (ARTIFACTS / name).write_text(json.dumps(art, indent=1, default=str))

    import tracing

    if args.trace:
        metrics = {k: {"value": v, "unit": tracing.layer_unit(k)}
                   for k, v in art["per_layer"].items()}
    else:
        metrics = {k: {"value": art["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    for k, m in metrics.items():
        print(f"perfbench {args.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"perfbench {args.workload} fail_ratio = {art['fail_ratio']:.6g} "
          f"ratio ({art['failed']} of {art['attempted']} operations)")
    for reason in art["failures"]:
        print(f"perfbench {args.workload} failed: {reason}")
    print(json.dumps({"correct": art["failed"] == 0,
                      "attempted": art["attempted"], "failed": art["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
