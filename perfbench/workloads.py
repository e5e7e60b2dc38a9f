"""The benchmark's workloads: which registry keys a pass runs, how each
sample's DataFrame is consumed, and the input each workload reads.

A pass runs every key of a workload once, in an order the run's seed
permutes. README.md gives the layer each key loads and the per-layer
metrics each workload should move.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    consume: str  # "collect" fetches the result; "noop" runs it into the noop sink
    sf: str  # fixture scale (inputs.SCALES)
    split: bool  # True: every table is nproc part files; False: the fixture files
    # Untimed passes after the correctness gate: with the gate, they take
    # the JVM past the steepest part of its JIT warm-up.
    warmup_passes: int
    # The share of --seconds one timed pass stands for. A run times
    # round(--seconds / pass_budget_s) passes, at least one: the work a run
    # times depends on --seconds only, never on how fast the program is.
    pass_budget_s: float


WORKLOADS = {
    w.name: w
    for w in [
        # Single-split input, results fetched with collect(): scans,
        # shuffles, result fetch and a parquet sink do the work, and the
        # nested-spec compiler's keys add build and planning per query.
        Workload(
            "relational",
            (
                "agg_groupby_hash",
                "join_q3_shipping_priority",
                "join_multiway_star",
                "win_row_number_topk",
                "win_sessionize",
                "limit_topk_global",
                "sink_partitioned_parquet",
                "compiler_agg_having",
                "compiler_deep_traversal",
            ),
            "collect",
            "0.01",
            False,
            1,
            5.0,
        ),
        # Input split into nproc files per table, run into the noop sink:
        # the Python/Arrow worker boundary and the three fixpoint loops
        # (graph.py, the compiler's $traverse, llm_dedup.py), which start
        # Spark jobs inside the build call. llm_dedup_groups builds on
        # llm_neardup_lsh, so spread() and session_fragment run too.
        Workload(
            "llm_graph",
            (
                "udaf_applyinpandas",
                "fn_json",
                "llm_exact_dedup",
                "graph_random_walks",
                "compiler_traverse_reachable",
                "llm_dedup_groups",
            ),
            "noop",
            "0.01",
            True,
            1,
            6.5,
        ),
    ]
}
