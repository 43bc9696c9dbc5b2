"""The benchmark's workloads: fixed lists of registered query names.

One run costs a JVM start (about 11 s on 4 cores), a cold pass that warms
up and feeds the output check, one more untimed pass, and the timed
passes. Comparing two commits takes ten or more runs per workload and
side, so the workloads are kept to a few queries each, about a minute
per run, and split along the JVM/Python boundary so each can be the
bypass case of the other.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Queries that never leave the JVM. Three relational queries with one
    # SQL execution each and no eager job while they are built (scan and
    # aggregate, a six-way join, a window top-k), and two iterative
    # LLM-data queries whose wall time goes mostly to building the
    # DataFrame: eager checkpoint and collect jobs before the final
    # action. Scans, shuffles, Catalyst and construction show here; the
    # codec and the Python boundary do not.
    "jvm": (
        "q1_pricing_summary",
        "q5_local_supplier_volume",
        "window_topk_per_segment",
        "graph_bfs_hops",
        "dedup_minhash_lsh",
    ),
    # Most time in mapInPandas stages: the proto codec on a flat shape and
    # a variable-length shape in strict mode, a permissive decode of
    # corrupt records, and PNG decoding. The traced run adds every codec
    # shape through the JVM-free kernel phase.
    "codec": (
        "conv_roundtrip_events",
        "conv_roundtrip_repeated",
        "conv_decode_corrupt_tolerance",
        "mm_image_features_png",
    ),
}
