"""Workload definitions: which operations a run executes, in which order.

Every list here depends only on the seed and the key inventory, never on
the clock, so two runs with one seed execute the same operations.
"""
import math
import random

# operator_sweep times every key of Dedup, whose candidate joins and
# shuffles make execution most of its time (ROADMAP item 4), a third of the
# keys of the other two "LLM" modules (Similarity, TextAnalysis), and one
# or two keys of each remaining module: 24 of the 138 keys, about 40 s on a
# quiet 4-core host. The full 138-key pass takes about 80 s there, more
# than a run may take within the benchmark's time budget. The keys are
# named, so a key added to or removed from the program never changes the
# timed work; a named key the program no longer has stops the run.
SWEEP_KEYS = {
    "Dedup": ["dedup_cluster_cc", "dedup_decontaminate", "dedup_exact",
              "dedup_exact_normalized", "dedup_keep_best", "dedup_near_minhash",
              "dedup_ngram_capped", "dedup_ngram_jaccard", "dedup_simhash"],
    "Similarity": ["dedup_embed_cosine", "multimodal_chunks", "sim_ann_multiprobe",
                   "sim_range_search"],
    "TextAnalysis": ["text_bigram_lm", "text_lang_id", "text_quality_score",
                     "text_tokenize_tf"],
    "Relational": ["agg_argminmax", "proj_unpivot"],
    "Joins": ["join_broadcast_dim"],
    "Windows": ["win_range_numeric"],
    "Functions": ["fn_bitwise"],
    "Sampling": ["sample_stratified"],
    "Streaming": ["stream_dedup"],
}
# Output checks re-execute keys outside the timed region. A run checks
# every CHECK_STRIDE-th key of the sorted list, offset by the seed: six
# keys a run, and any four consecutive seeds check every key.
CHECK_STRIDE = 4
WARMUP_KEY = "agg_daily_counts"


def read_keys(path):
    """keys.tsv written by the build -> {module: [key, ...]} (sorted)."""
    by_module = {}
    with open(path) as fh:
        for line in fh:
            module, key, _ = line.rstrip("\n").split("\t")
            by_module.setdefault(module, []).append(key)
    return {m: sorted(ks) for m, ks in by_module.items()}


def workload_keys(by_module):
    """The named sweep keys, after checking that the program still has
    each of them in the module it is listed under."""
    missing = [f"{m}.{k}" for m, ks in SWEEP_KEYS.items() for k in ks
               if k not in by_module.get(m, ())]
    if missing:
        raise SystemExit(f"perfbench: sweep keys missing from the program: {missing}")
    return sorted(k for ks in SWEEP_KEYS.values() for k in ks)


def sweep_plan(by_module, seed):
    """The timed keys in a seeded order."""
    keys = workload_keys(by_module)
    random.Random(seed).shuffle(keys)
    return [("key", k) for k in keys]


def check_keys(keys, seed):
    keys = sorted(keys)
    return [k for i, k in enumerate(keys) if i % CHECK_STRIDE == seed % CHECK_STRIDE]


def tail(samples, want=0.9, beyond=10):
    """The highest percentile, at most `want`, that keeps at least
    `beyond` samples above it: (percentile, value), or None if there are
    too few samples for any tail.
    """
    s = sorted(samples)
    n = len(s)
    if n <= beyond:
        return None
    k = min(math.ceil(want * n) - 1, n - beyond - 1)
    return (k + 1) / n, s[k]
