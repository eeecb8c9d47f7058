"""Metric catalog: the single list BENCHMARK.json mirrors (the self-tests
check that it does).  Layer → end-to-end predictions live in METRICS.md."""

from __future__ import annotations

# (name, unit, better, bound): bound is the share of the parent's median by
# which the metric may worsen before a change counts as a regression
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.25),
    ("turns_per_s", "1/s", "higher", 0.25),
    ("entities_per_s", "1/s", "higher", 0.25),
)

_LAYER_METRICS = {
    "session": (("start_s", "s", "lower"), ("warmup_s", "s", "lower"),
                ("peak_rss_mb", "MB", "lower")),
    "order": (("busy_s", "s", "lower"), ("rows_in", "count", "higher"),
              ("rows_out", "count", "higher"), ("kept_ratio", "ratio", "higher"),
              ("shuffle_write_bytes", "bytes", "lower"), ("spill_bytes", "bytes", "lower")),
    "extract": (("busy_s", "s", "lower"), ("turns", "count", "higher"),
                ("mentions", "count", "higher"), ("raw_triples", "count", "higher"),
                ("executor_run_s", "s", "lower"), ("parallelism", "ratio", "higher")),
    "link": (("busy_s", "s", "lower"), ("surfaces", "count", "higher"),
             ("edges", "count", "higher"), ("jobs", "count", "lower"),
             ("tasks", "count", "lower")),
    "cc": (("busy_s", "s", "lower"), ("edges_in", "count", "higher"),
           ("nodes", "count", "higher"), ("components", "count", "higher"),
           ("jobs", "count", "lower"), ("shuffle_write_bytes", "bytes", "lower"),
           ("spill_bytes", "bytes", "lower")),
    "materialize": (("busy_s", "s", "lower"), ("triples", "count", "higher"),
                    ("edges", "count", "higher"), ("partition_skew", "ratio", "lower"),
                    ("shuffle_write_bytes", "bytes", "lower"), ("spill_bytes", "bytes", "lower")),
    "exec": (("overlap_s", "s", "higher"),),
    "io": (("write_s", "s", "lower"), ("read_s", "s", "lower"),
           ("bytes_written", "bytes", "lower"), ("write_amp", "ratio", "lower"),
           ("tables_committed", "count", "higher")),
    "run": (("recomputed_stages", "count", "lower"), ("resume_s", "s", "lower")),
    "stream": (("batches", "count", "higher"), ("rows", "count", "higher"),
               ("microbatch_ms", "ms", "lower"), ("microbatch_ms_p75", "ms", "lower"),
               ("add_batch_ms", "ms", "lower"), ("planning_ms", "ms", "lower"),
               ("wal_commit_ms", "ms", "lower"), ("latest_offset_ms", "ms", "lower")),
}

# (name, unit, better)
PER_LAYER = tuple(
    [(f"{layer}.{m}", unit, better)
     for layer, ms in _LAYER_METRICS.items() for m, unit, better in ms]
    + [(f"{layer}.failed_tasks", "count", "lower") for layer in _LAYER_METRICS]
    + [("trace.overhead_s", "s", "lower")]
)
