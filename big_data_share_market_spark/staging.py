"""Staged-relation lifecycle management.

Operator families stage a persisted relation per (SparkContext,
sf_dir) — the "compute once, sweep many" pattern a production pipeline
materializes to a staging store:

  * tables.event_series       — per-key event series, laid out
                                hash(user_id) + sorted (ts, event_id)
  * transforms.ohlc_bars      — hourly OHLCV bar rollup (built from
                                the event series)
  * dedup._shingled           — shingled corpus
  * dedup._shingle_df         — shingle document-frequency index
  * dedup (MinHash/SimHash)   — signature stores
  * text.staged_tokens        — tokenized corpus
  * graph._co_adjacency       — co-purchase adjacency lists

Only relations that many queries re-read in the same shape are
staged. Raw fixture reads that are filtered or pruned differently per
query stay plain parquet scans (tables.load_table), so predicates and
column pruning still reach the files — see tables.py.

persist() is local-mode's equivalent of that store, but a long-lived
session (a notebook, a query service) eventually wants the memory
back. `unpersist_staged` releases every staged relation and clears
the cache registries, so the next query transparently re-stages;
`staged_relations` reports what is currently held (the operational
"what is pinned in my cluster's storage memory" question).

Driver-side artifact caches that hold plain Python values (BPE merge
tables, PQ codebooks) are cleared too — they are rebuilt from the
staged relations' sources on demand.
"""

from __future__ import annotations

from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from .session import scoped_conf


def _cache_registries() -> list[tuple[str, dict]]:
    from . import tables
    from .operators import (bpe, dedup, finance, graph, similarity,
                            sqlfeatures, stats, text, transforms)

    return [
        ("tables.event_series", tables._SERIES_CACHE),
        ("stats.paired_values", stats._PAIRED_CACHE),
        ("transforms.bars", transforms._BARS_CACHE),
        ("finance.daily_rets", finance._DRETS_CACHE),
        ("dedup.shingles", dedup._SH_CACHE),
        ("dedup.shingle_df", dedup._DF_CACHE),
        ("dedup.minhash_sigs", dedup._MH_CACHE),
        ("dedup.simhash_table", dedup._SIMHASH_CACHE),
        ("text.tokens", text._TOK_CACHE),
        ("sqlfeatures.rcte_ranked", sqlfeatures._RCTE_CACHE),
        ("text.tfidf_index", text._TFIDF_VEC_CACHE),
        ("graph.adjacency", graph._EDGE_CACHE),
        ("graph.oriented", graph._TRI_CACHE),
        ("graph.repeat_edges", graph._KCORE_CACHE),
        ("dedup.cc_labels", dedup._CC_CACHE),
        ("bpe.merges", bpe._MERGE_CACHE),
        ("similarity.pq_codebook", similarity._PQ_CODEBOOK_CACHE),
    ]


def staged_relations() -> dict[str, list[tuple[Any, ...]]]:
    """Registry name → list of (applicationId, sf_dir) keys currently
    staged. Purely informational; touches no Spark state."""
    return {name: sorted(reg.keys())
            for name, reg in _cache_registries() if reg}


def unpersist_staged(blocking: bool = False) -> int:
    """Unpersist every staged DataFrame and clear all cache
    registries. Returns the number of entries released. Safe to call
    with no active SparkContext (driver-side caches still clear);
    subsequent queries re-stage on first use."""
    released = 0
    for _, reg in _cache_registries():
        for val in reg.values():
            entry = val if isinstance(val, tuple) else (val,)
            for item in entry:
                if hasattr(item, "unpersist"):
                    try:
                        item.unpersist(blocking=blocking)
                    except Exception:
                        # A dead SparkContext makes release a no-op —
                        # the JVM-side memory is already gone.
                        pass
            released += 1
        reg.clear()
    return released


def persist_laid_out(df: DataFrame) -> DataFrame:
    """`df.persist(MEMORY_AND_DISK)` with the cached plan planned
    without AQE, so the cached scan reports the plan's partitioning
    and ordering from the start. An adaptive cached plan reports them
    only once it has run: every plan built over the not yet
    materialized cache would add its own Exchange and Sort above it,
    and the printed plan would nest the cache's adaptive sections
    out of line. The staging builds (a scan, at most one
    explicit-width shuffle, an aggregate, a sort) give AQE nothing to
    adapt."""
    with scoped_conf(df.sparkSession, "spark.sql.adaptive.enabled", "false"):
        return df.persist(StorageLevel.MEMORY_AND_DISK)
