"""The benchmark's workloads: fixed pipeline sets over the read-only sf0.1
tables. The seed only permutes submission order; the engine sees nothing
but pipeline names and the sf dir.

`mode` says how the single client submits a pipeline:
  run  -- `Graft.run` writes the result to the lake, then the client waits
          for `StatusListener` to report a terminal state;
  plan -- `Graft.plan` evaluated to the noop sink, each pass inside its
          own `CacheScope.sharedScopeWithScratch`.

`groups` are submitted in an order drawn from the seed. A memo family is
one group, kept in build order, so the same member pays the family's
build in every run and the others hit; otherwise which member pays would
move with the seed, and with it every latency figure.

After two untimed warm-up passes, a run of `--seconds S` measures
max(1, round(S / pass_s)) passes, `pass_s` being the nominal length of
one warm pass at local[4]; so every run of a workload does the same work
whatever the engine's speed.
"""

# Untimed warm-up pipeline run once per JVM; in no workload.
WARMUP = "q6_forecast_revenue"

WORKLOADS = {
    # Fixed per-pipeline cost dominates: planning, scheduling, task-binary
    # deserialization, output commit. One AvailableNow stream replay keeps
    # the streaming layer measured.
    "relational_short": {
        "mode": "run",
        "pass_s": 6,
        "groups": [[n] for n in (
            "q19_disc_revenue", "q_agg_cube", "q_join_semi", "q_set_intersect",
            "q_sql_grouping_sets", "q_sql_lateral_explode", "q_window_running",
            "q_func_hash", "q_filter_predicates", "q_event_abtest",
            "q_stream_static_join",
        )],
    },
    # Executor compute and run-wide memo builds and hits dominate.
    "memo_families": {
        "mode": "plan",
        "pass_s": 9,
        "groups": [
            # winnow: selected fingerprints, then the candidate pairs
            ["q_text_winnow", "q_text_winnow_pairs", "q_text_winnow_verify"],
            # graph_edges: the co-supply wedge table
            ["q_graph_triangles", "q_graph_label_prop"],
        ],
    },
}
