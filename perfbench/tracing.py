"""Per-layer tracing from outside the engine.

``Tracer`` wraps public functions of the engine's modules and records one
span per call (name, start, end, parent span, request id, tier). Spans stay
in memory and are written once, at exit. A layer's self time is its span
minus the spans of its children; calls are synchronous, so children never
overlap. Spark-side layers are read per job group from Spark's status store,
which works with the UI disabled.
"""

from __future__ import annotations

import functools
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from splade_spark.functions import tokenize as tokenize_mod
from splade_spark.operators import positional as positional_mod
from splade_spark.operators import query as query_mod
from splade_spark.operators import sharding as sharding_mod
from splade_spark.operators import webserve as webserve_mod

# span record fields
SID, PARENT, TIER, REQ, NAME, T0, T1, N = range(8)
SERVED_TIERS = ("local", "broker", "web")


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("mpostings_per_s"):
        return "Mpostings/s"
    last = name.replace(".", "_").rsplit("_", 1)[-1]
    return {"ms": "ms", "s": "s", "mb": "MB", "pct": "%", "ratio": "ratio",
            "util": "ratio", "loadavg": "load"}.get(last, "count")


def _postings(result) -> int:
    return int(result[0].size)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.args: dict[int, tuple] = {}
        self.tier = "load"
        self.request = -1
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    # -- installing wrappers ------------------------------------------------
    def install(self) -> None:
        targets = [
            (tokenize_mod, "tokenize_py", "tokenize", None, False),
            (query_mod, "tokenize_py", "tokenize", None, False),
            (webserve_mod, "tokenize_py", "tokenize", None, False),
            (positional_mod, "tokenize_py", "tokenize", None, False),
            (query_mod, "decode_block", "codec.decode", _postings, False),
            (webserve_mod, "decode_block", "codec.decode", _postings, False),
            (query_mod, "load_term_info", "query.load_term_info", None, False),
            (query_mod.LocalIndexServer, "__init__", "query.load", None, False),
            (query_mod.LocalIndexServer, "search", "query.search", None, False),
            (query_mod.LocalIndexServer, "search_ids", "query.search_ids", None,
             False),
            (query_mod.LocalIndexServer, "topk_arrays", "query.topk_arrays",
             None, True),
            (sharding_mod.ShardedServer, "search_ids", "sharding.search_ids",
             None, False),
            (webserve_mod.WebQueryServer, "search", "webserve.search", None,
             False),
            (webserve_mod.WebQueryServer, "topk_arrays", "webserve.topk_arrays",
             None, False),
            (webserve_mod.PositionalStore, "docs_with_phrase", "webserve.phrase",
             None, False),
        ]
        for owner, attr, name, count, keep_args in targets:
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, name, count, keep_args))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, name: str, count, keep_args: bool):
        spans, stack, args_by_sid = self.spans, self._stack, self.args
        clock = time.perf_counter

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sid = len(spans)
            rec = [sid, stack[-1] if stack else -1, self.tier, self.request,
                   name, 0.0, 0.0, 0]
            spans.append(rec)
            if keep_args:
                args_by_sid[sid] = args
            stack.append(sid)
            rec[T0] = clock()
            try:
                result = fn(*args, **kwargs)
            finally:
                rec[T1] = clock()
                stack.pop()
            if count is not None:
                rec[N] = count(result)
            return result

        return wrapper

    # -- deriving per-layer metrics ----------------------------------------
    def layer_metrics(self, tier_queries: dict[str, int],
                      shards_visited: list[int], n_shards: int,
                      web_empty: int) -> dict[str, float]:
        spans = self.spans
        children: dict[int, list[list]] = defaultdict(list)
        for s in spans:
            if s[PARENT] >= 0:
                children[s[PARENT]].append(s)

        def dur(s) -> float:
            return (s[T1] - s[T0]) * 1000.0

        def self_ms(s) -> float:
            return dur(s) - sum(dur(c) for c in children[s[SID]])

        def named(tier: str, name: str) -> list[list]:
            return [s for s in spans if s[TIER] == tier and s[NAME] == name]

        def child(s, name: str) -> list[list]:
            return [c for c in children[s[SID]] if c[NAME] == name]

        served = sum(tier_queries.values())
        local_q = max(1, tier_queries["local"])
        web_q = max(1, tier_queries["web"])
        m: dict[str, float] = {}

        tok = [s for s in spans
               if s[NAME] == "tokenize" and s[TIER] in SERVED_TIERS]
        m["tokenize.calls"] = len(tok) / max(1, served)
        m["tokenize.ms"] = sum(map(dur, tok)) / max(1, served)

        # local tier: search > search_ids > topk_arrays > codec.decode
        parse = kernel = accumulate = id_map = 0.0
        cand_blocks = cand_postings = dec_blocks = dec_postings = 0
        for s in named("local", "query.search"):
            (ids,) = child(s, "query.search_ids")
            (topk,) = child(ids, "query.topk_arrays")
            parse += dur(s) - dur(ids)
            id_map += dur(ids) - dur(topk)
            kernel += dur(topk)
            accumulate += self_ms(topk)
            decodes = child(topk, "codec.decode")
            dec_blocks += len(decodes)
            dec_postings += sum(d[N] for d in decodes)
            b, p = _candidates(*self.args[topk[SID]][:2])
            cand_blocks += b
            cand_postings += p
        m["query.parse_ms"] = parse / local_q
        m["query.kernel_ms"] = kernel / local_q
        m["query.accumulate_ms"] = accumulate / local_q
        m["query.id_map_ms"] = id_map / local_q
        m["query.candidate_blocks"] = cand_blocks / local_q
        m["query.decoded_blocks"] = dec_blocks / local_q
        m["query.candidate_postings"] = cand_postings / local_q
        m["query.decoded_postings"] = dec_postings / local_q
        m["query.block_skip_ratio"] = 1.0 - dec_blocks / max(1, cand_blocks)
        m["query.block_skip_base"] = cand_blocks

        dec = [s for s in spans
               if s[NAME] == "codec.decode" and s[TIER] in SERVED_TIERS]
        dec_ms = sum(map(dur, dec))
        m["codec.decode_calls"] = len(dec) / max(1, served)
        m["codec.decode_ms"] = dec_ms / max(1, served)
        m["codec.decode_mpostings_per_s"] = (
            sum(d[N] for d in dec) / max(1e-9, dec_ms / 1000.0) / 1e6
        )

        broker_q = max(1, len(shards_visited))
        node = merge = 0.0
        for s in named("broker", "sharding.search_ids"):
            nodes = child(s, "query.topk_arrays")
            node += sum(map(dur, nodes))
            merge += self_ms(s)
        base = n_shards * len(shards_visited)
        m["sharding.shards_visited"] = sum(shards_visited) / broker_q
        m["sharding.route_skip_ratio"] = 1.0 - sum(shards_visited) / max(1, base)
        m["sharding.route_skip_base"] = base
        m["sharding.node_ms"] = node / broker_q
        m["sharding.merge_ms"] = merge / broker_q

        phrase = conj = 0.0
        for s in named("web", "webserve.search"):
            (topk,) = child(s, "webserve.topk_arrays")
            phrase += sum(map(dur, child(topk, "webserve.phrase")))
            conj += self_ms(topk)
        m["webserve.phrase_ms"] = phrase / web_q
        m["webserve.conj_ms"] = conj / web_q
        m["webserve.empty_ratio"] = web_empty / web_q
        m["webserve.empty_base"] = tier_queries["web"]

        loads = [s for s in spans if s[NAME] == "query.load"]
        m["query.load_term_dict_s"] = statistics.median(
            dur(t) for s in loads for t in child(s, "query.load_term_info")
        ) / 1000.0
        m["query.load_s"] = statistics.median(map(dur, loads)) / 1000.0
        return m


def _candidates(srv, qtf_by_tid: dict) -> tuple[int, int]:
    """Blocks and postings the kernel could touch for one query: every block
    of every query term that survives the server's own sparsify."""
    items = [(t, w) for t, w in qtf_by_tid.items() if w > srv.min_weight]
    if len(items) > srv.top_k_terms:
        items = sorted(items, key=lambda p: (-p[1], p[0]))[: srv.top_k_terms]
    tids = [t for t, _ in items]
    width = 2 if srv.meta.get("value_dtype") == "float16" else 4
    blocks = [b for t in tids for b in srv.by_term.get(t, ())]
    return len(blocks), sum(len(b[4]) // width for b in blocks)


# -- Spark job groups --------------------------------------------------------
@contextmanager
def job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def stage_rows(sc, group: str) -> list[dict]:
    """One row per stage that ran under ``group``, from the status store."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    rows = []
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue  # a stage skipped for a reused shuffle never ran
        if str(st.status().toString()) != "COMPLETE":
            continue
        rows.append({
            "stage_id": sid,
            "name": str(st.name()),
            "tasks": int(st.numCompleteTasks()),
            "run_s": st.executorRunTime() / 1000.0,
            "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1000.0,
            "shuffle_write_mb": st.shuffleWriteBytes() / 1048576.0,
            "shuffle_read_mb": st.shuffleReadBytes() / 1048576.0,
            "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled())
            / 1048576.0,
        })
    return rows


def spark_layer(layer: str, wall_s: float, rows: list[dict]) -> dict[str, float]:
    total = {k: sum(r[k] for r in rows) for k in (
        "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb",
        "shuffle_read_mb", "spill_mb")}
    return {
        f"{layer}.wall_s": wall_s,
        f"{layer}.stages": len(rows),
        f"{layer}.tasks": total["tasks"],
        f"{layer}.run_s": total["run_s"],
        f"{layer}.cpu_s": total["cpu_s"],
        f"{layer}.cpu_util": total["cpu_s"] / max(1e-9, total["run_s"]),
        f"{layer}.gc_s": total["gc_s"],
        f"{layer}.shuffle_write_mb": total["shuffle_write_mb"],
        f"{layer}.shuffle_read_mb": total["shuffle_read_mb"],
        f"{layer}.spill_mb": total["spill_mb"],
    }
