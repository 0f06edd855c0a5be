"""Dataflow + LLM-pipeline operators.

- ``metrics``    warm-up filter, success tagging, global agg, merge, report
                 (reference O10, O12-O15)
- ``serde``      JSON/Avro encode-decode round trips (O3-O6)
- ``routing``    partition routing, tail-N offset pruning, TRANSPORTE (O7, O9)
- ``text``       language-ID, quality scoring, token counting,
                 fingerprints, PII scrubbing
- ``dedup``      exact + MinHash/LSH + SimHash + n-gram Jaccard dedup,
                 near-dup cluster resolution (connected components)
- ``corpus``     fused cleaning pipeline (quality/lang gates → exact
                 dedup → near-dup removal), token-budget sampling,
                 weighted corpus mixing, intra-doc repetition removal
- ``asof``       as-of join (temporal attribution), sessionization
- ``similarity`` embedding cosine top-k (brute force + LSH-bucketed)
- ``multimodal`` binary payload columns with typed metadata (stubbed decode)
- ``skew``       salted two-phase aggregation
"""
