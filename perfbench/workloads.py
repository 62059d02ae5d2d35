"""The benchmark's named workloads: which queries, on which inputs.

Each workload is a fixed multiset of ``plans.ALL_SPECS`` queries run as a
closed loop with one client; the run seed only permutes the query order
within each pass (and, where ``seeded_rows`` is set, the row order of the
generated files). Inputs come from ``gen.generate`` at ``sf`` with
``replicas`` key-consistent copies of the star schema.

``nominal_pass_s`` fixes how many timed passes a run makes
(``round(seconds / nominal_pass_s)``, at least 2), so every run of a
workload collects the same number of samples whatever the speed of the
code under test.
"""

from __future__ import annotations

_LLM = ["q_dedup_lshband", "q_graph_lpa", "q_udf_grouped"]
_INGEST = ["q_sink_pyds", "q_merge_upsert", "q_scd2_history",
           "q_stream_foreach"]

WORKLOADS: dict[str, dict] = {
    "claims_etl_x10": {
        "why": "the claim pipeline on a 10x key-consistent replica: loads "
               "scan, codegen, shuffle and join strategy; no Python "
               "workers, few build-time jobs",
        "sf": 0.001, "replicas": 10, "seeded_rows": True,
        "nominal_pass_s": 5.0,
        # q_snapshot_diff's full outer join is the one join AQE cannot
        # turn into a broadcast at this size: it keeps a shuffle join in
        # the executed plans.
        "queries": ["q_crossover", "q_parse_tree", "q_explode_nested",
                    "q_join_inner", "q_agg_multi", "q_market_share",
                    "q_win_running", "q_snapshot_diff"],
    },
    "llm_ingest": {
        "why": "LSH dedup, label propagation and a pandas UDF beside sinks, "
               "merges and a checkpointed stream: build-time jobs, the Python "
               "boundary, io writes and streaming",
        "sf": 0.001, "replicas": 1, "seeded_rows": False,
        "nominal_pass_s": 5.0,
        "queries": _LLM + _INGEST,
    },
    # The two halves of llm_ingest, for attributing a change to one side.
    "llm_pipeline": {
        "why": "dedup, graph and grouped-pandas queries: build-time jobs "
               "(checkpoint rounds, driver loops) and the Arrow/Python "
               "boundary",
        "sf": 0.001, "replicas": 1, "seeded_rows": False,
        "nominal_pass_s": 4.0,
        "queries": _LLM,
    },
    "ingest_stream": {
        "why": "sinks, merges and a foreachBatch stream resumed from its "
               "checkpoint: io writes, micro-batches and checkpoints",
        "sf": 0.001, "replicas": 1, "seeded_rows": False,
        "nominal_pass_s": 4.0,
        "queries": _INGEST,
    },
}
