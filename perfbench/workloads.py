"""The benchmark's workloads: fixed, named operation lists.

Each list is spelled out (never a prefix match on registry names), so a new
registry query never changes a workload silently. The seed permutes the
order within each steady pass (in the JVM) and picks the ingest slices and
keys (here); the engine receives only the generated inputs.
"""

# Scale factor of the generated inputs (lineitem = 60k rows at 0.01).
SF = 0.01

WORKLOADS = {
    "analytics": {"cache_tables": True, "ops": [
        # one each of the relational, aggregate, window, function, subquery
        # and set families
        "join_multiway", "agg_hash_q1", "win_running_sum", "fn_regexp",
        "subq_correlated", "set_intersect",
        # a full-compute target: count() would drop most of its work
        "agg_corr",
        # read-only manifest scans: zone-map skipping, aggregate pushdown
        "source_manifest_skipping", "agg_manifest_group_pushdown",
        # LLM-data operators: MinHash LSH dedup and chunking over the
        # corpus; the BPE and unigram tokenizers and the IVF index are
        # trained memos, built on the cold pass
        "dedup_minhash_lsh", "chunk_documents", "tokenize_bpe_ids",
        "tokenize_unigram_ids", "ann_ivf_topk",
    ]},
    "ingest": {"cache_tables": False, "ops": [
        # the seeded write sequence; a transformWithState drive on RocksDB
        # state; a drive committing micro-batches to a manifest store; a
        # declarative streaming pipeline
        "ingest", "state_type_counts", "stream_manifest_sink", "pipeline_graph_stream",
    ]},
}

ORDERS = int(1_500_000 * SF)
BLOCKS = 8


def ingest_sequence(rng):
    """The seeded write sequence over `orders`, by o_orderkey (dense from
    0): three appended blocks and one INSERTed block of the key space, a
    MERGE of stored keys (updated) and unstored keys (inserted), a DELETE
    of stored keys, a compaction, three pruned range reads inside stored
    blocks, and a time-travel read of an earlier version."""
    size = ORDERS // BLOCKS
    blocks = rng.sample(range(BLOCKS), 4)
    spans = [[b * size, (b + 1) * size] for b in blocks]
    stored = [k for lo, hi in spans for k in range(lo, hi)]
    unstored = sorted(set(range(ORDERS)) - set(stored))
    ranges = []
    for lo, hi in rng.sample(spans, 3):
        a = rng.randrange(lo, hi - size // 4)
        ranges.append([a, a + size // 4])
    return {
        "appends": spans[:3],
        "insert": spans[3],
        "merge_keys": sorted(rng.sample(stored, 40) + rng.sample(unstored, 10)),
        "merge_delta": rng.randrange(1, 100000),
        "delete_keys": sorted(rng.sample(stored, 50)),
        "ranges": ranges,
        # 1..3 appends, 4 insert, 5 merge
        "travel_version": rng.randrange(1, 6),
    }
