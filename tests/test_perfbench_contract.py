"""The engine names the benchmark's tracer wraps (perfbench/tracing.py).

The tracer patches functions and methods of the serving modules by name
and reads the served node's ``by_term`` blocks to count candidates. A
rename or a layout change in the engine would break traced benchmark
runs without failing any engine test; this module fails instead. It
starts no Spark.
"""

import importlib.util
import pathlib

import numpy as np
import pandas as pd

from splade_spark.functions.codec import encode_block
from splade_spark.operators.query import LocalIndexServer

_TRACING = pathlib.Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"


def _tracing():
    spec = importlib.util.spec_from_file_location("perfbench_tracing", _TRACING)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _node() -> LocalIndexServer:
    """Three terms over docs [10, 40): term 0 in two blocks, term 1 in
    one, term 2 in three."""
    rows = []
    for tid, step, cuts in ((0, 2, [15]), (1, 7, []), (2, 3, [12, 30])):
        docs = np.arange(10, 40, step, dtype=np.int64)
        w = (docs % 5 + 1).astype(np.float32) / 4
        for lo, hi in zip([10] + cuts, cuts + [40]):
            sel = (docs >= lo) & (docs < hi)
            g, wb = encode_block(docs[sel], w[sel])
            rows.append((tid, float(w[sel].max()), int(docs[sel][0]),
                         int(docs[sel][-1]), g, wb))
    pdf = pd.DataFrame(rows, columns=[
        "term_id", "max_weight", "min_doc", "max_doc", "doc_gaps", "weights",
    ])
    dd = pd.DataFrame({"doc_idx": np.arange(10, 40),
                       "doc_id": [f"d{i}" for i in range(10, 40)]})
    return LocalIndexServer._from_frames(
        {}, {"a": 0, "b": 1, "c": 2}, pdf, dd
    )


def test_tracer_wraps_and_counts_served_decodes():
    """Every wrapped name exists (install raises KeyError otherwise), and
    the decode spans under ``query.topk_arrays`` number exactly the
    candidate blocks the tracer derives from ``by_term``, with the same
    postings — what makes ``query.decoded_blocks`` equal
    ``query.candidate_blocks``."""
    tracing = _tracing()
    srv = _node()
    qtf = {0: 1.0, 2: 2.0, 7: 1.0}  # term 7 has no postings here
    tracer = tracing.Tracer()
    tracer.install()
    try:
        tracer.tier = "local"
        srv.search_ids(qtf, 5)
    finally:
        tracer.uninstall()
    spans = tracer.spans
    (topk,) = [s for s in spans if s[tracing.NAME] == "query.topk_arrays"]
    decodes = [s for s in spans if s[tracing.NAME] == "codec.decode"
               and s[tracing.PARENT] == topk[tracing.SID]]
    blocks, postings = tracing._candidates(*tracer.args[topk[tracing.SID]][:2])
    assert blocks == 5
    assert len(decodes) == blocks
    assert sum(s[tracing.N] for s in decodes) == postings
    # uninstall restored the engine's own functions
    assert not hasattr(LocalIndexServer.__dict__["topk_arrays"], "__wrapped__")
