"""Engine configuration.

Mirrors the reference's frozen operating points (see BASELINE.md):
- max_input_length=256 tokens (/root/reference/config/model/_base.yaml:11)
- sparse_top_k=4096 terms/doc (/root/reference/config/encoding/_base.yaml:26)
- sparse_min_weight=0.0, strict ``> 0`` filter
  (/root/reference/src/indexing/sparse_index.py:65-68)
plus the engine's own additions (posting block size, BM25 k1/b, metric
cutoffs) that have no reference counterpart.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Tokenizer contract (classic path). Lowercase, keep [a-z0-9]+ runs, drop
# empties, truncate to max_tokens. The same regex is used by the Spark
# column expression, the NumPy oracle, and the DuckDB oracle SQL so all
# three produce identical token streams.
TOKEN_SPLIT_RE = "[^a-z0-9]+"


# the engine's encoders (classic tokenizer / surrogate expander) emit at
# most this many distinct terms per input token (identity + 2 hash
# expansions) — used to decide whether a top-k term cap can ever bind.
# A real neural encoder would replace this bound with vocab_size.
TERMS_PER_TOKEN_BOUND = 3


@dataclass(frozen=True)
class EngineConfig:
    # tokenization — reference max_input_length=256
    max_tokens: int = 256
    # per-doc sparse vector cap — reference sparse_top_k=4096
    top_k_terms: int = 4096
    # strict > min_weight filter — reference sparse_min_weight=0.0
    min_weight: float = 0.0
    # term exclusion list — the classic-path analogue of the reference's
    # special-token id masking (pad/cls/sep,
    # /root/reference/src/indexing/sparse_index.py:61-63,556-558); terms
    # here never enter the dictionary or postings, and queries mirror the
    # exclusion from index metadata
    exclude_terms: tuple = ()
    # WAND shard tiers: a query's blocks are split into ceil(Σdf/cap)
    # doc-disjoint range shards (Σ df over its terms estimates its
    # candidate postings), the kernel runs per (query, shard) task and the
    # per-shard top-ks merge exactly — a query within the cap runs as one
    # task, a heavier one never lands its whole posting set in one task
    wand_postings_cap: int = 4_000_000
    # BM25 (classic path impact weights; pinned in index_meta)
    k1: float = 1.2
    b: float = 0.75
    # posting block: target postings per (term, block); blocks are
    # doc_idx-range partitioned so min_doc/max_doc are disjoint per term
    block_size: int = 4096
    # posting weight storage dtype — mirrors the reference's
    # encoding.value_dtype (float16/32 with fp16→fp32 upcast at read,
    # /root/reference/src/indexing/sparse_index.py:14-36,
    # script/index.py:88-94). "float16" halves posting-payload bytes at
    # ~1e-3 relative weight error; decode always upcasts to float32
    value_dtype: str = "float32"
    # retrieval
    top_k: int = 10
    # metric cutoffs — reference testing.k_list
    k_list: tuple = (1, 5, 10, 50, 100)
    # build parallelism hint: the CLUSTER-side cap (sized to ~total
    # executor cores); builds downsize below it for small corpora
    # (indexing._task_width) so tiny builds don't pay 32 tasks of
    # scheduling overhead per stage
    index_partitions: int = 32


DEFAULT = EngineConfig()
