"""Every metric the benchmark reports: (name, unit, which way is better).

END_TO_END is what a user of the package sees (``--trace 0``); PER_LAYER
is measured in a separate traced run (``--trace 1``).  The comment over
each group of PER_LAYER says which end-to-end metric it should move, and
on which workload, written down before any change is measured against it.
A per-layer metric of a layer a workload does not use reads 0.
"""

END_TO_END = [
    # session start + JVM/Python-worker warm-up + input generation and
    # staging
    ("setup_s", "s", "lower"),
    # median wall time of one timed warm query: operator call -> plan ->
    # result materialized
    ("query_s", "s", "lower"),
    # the first query after set-up, which a one-shot spark-submit pays
    ("first_query_s", "s", "lower"),
    # input rows / query_s at the workload's stated input size (docs/s on
    # docs_tiles, the BASELINE headline)
    ("rows_per_s", "rows/s", "higher"),
    # peak RSS of the driver JVM and its Python workers during the queries;
    # the heap is not pre-touched and its young generation is fixed, so it
    # grows with what the program holds
    ("peak_rss_mb", "MB", "lower"),
]

PER_LAYER = [
    # -> setup_s on docs_tiles: work moved from query time into the table
    # write shows up here
    ("session.start_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    ("sources.generate_s", "s", "lower"),
    ("sources.write_s", "s", "lower"),
    ("sources.written_mb", "MB", "lower"),
    # -> query_s on docs_tiles
    ("sources.scan_files", "count", "lower"),
    ("sources.scan_mb", "MB", "lower"),
    ("sources.scan_rows", "count", "lower"),
    # -> query_s on every workload; build is the public operator call,
    # plan-time jobs included
    ("driver.build_s", "s", "lower"),
    ("driver.optimize_s", "s", "lower"),
    ("driver.exec_s", "s", "lower"),
    ("driver.jobs", "count", "lower"),
    # -> query_s on shuffle_join and concave_overlay; task_skew is max /
    # median task time in the longest stage
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("exec.task_skew", "ratio", "lower"),
    # exact node counts of the executed plan: explain moves in query_s on
    # every workload
    ("plan.exchanges", "count", "lower"),
    ("plan.python_nodes", "count", "lower"),
    ("plan.broadcast_joins", "count", "higher"),
    ("plan.shuffle_joins", "count", "lower"),
    # -> query_s on shuffle_join and docs_tiles.  Candidates are the rows
    # out of the cell-term join; Catalyst evaluates the pair dedup and
    # exact predicate inside the join condition, so today hits equal
    # candidates unless a filter is left above the join
    ("join.stream_terms", "count", "lower"),
    ("join.ref_terms", "count", "lower"),
    ("join.candidates", "count", "lower"),
    ("join.hits", "count", "higher"),
    ("join.hit_ratio", "ratio", "higher"),
    # -> query_s on docs_tiles
    ("tiles.cover_rows", "count", "lower"),
    ("tiles.rows", "count", "higher"),
    # -> query_s on concave_overlay and nearest; must read 0 on docs_tiles
    ("udf.python_s", "s", "lower"),
    ("udf.init_s", "s", "lower"),
    ("udf.mb_sent", "MB", "lower"),
    ("udf.mb_received", "MB", "lower"),
    ("udf.rows", "count", "lower"),
    # -> query_s and exec.task_skew on shuffle_join.  hot_cells is the salt
    # map's row count in the executed plan; max_factor repeats the join's
    # sampled sketch (same fraction and seed) with plans/salting's functions
    ("salting.hot_cells", "count", "lower"),
    ("salting.max_factor", "count", "lower"),
    # -> peak_rss_mb on shuffle_join, concave_overlay and nearest: frames
    # the operators persist and never release: median per-query growth
    ("storage.persistent_rdds_delta", "count", "lower"),
    ("storage.held_mb", "MB", "lower"),
    # queries that raised or returned a wrong result / queries attempted
    ("failed_frac", "ratio", "lower"),
    # traced minus plain query_s, neighbours in the same traced run
    ("trace.overhead_s", "s", "lower"),
]
