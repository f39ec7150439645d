"""The benchmark's metrics, and for each per-layer metric the end-to-end
metric and workload it should move.

``END_TO_END`` and ``PER_LAYER`` are the lists ``BENCHMARK.json`` carries
(name, unit, better). Every run prints every metric of its list: a layer a
workload never calls reads 0 there (for example ``sink.files`` on
``operator_anchor``, which writes no snapshot).

End-to-end, per workload:

* ``setup_s`` -- interpreter imports + ``session.get_spark`` + the median
  of three input generations from the seed + the untimed warm-up
  (``job_resume``: two jobs, each with its re-run; ``operator_anchor``: one
  run of q1_pricing_summary).
* ``pass_s`` -- median wall seconds of one timed pass of the workload's
  unit of work:
  ``job_resume``: ``run_extraction_job`` over the mixed-content crawl
  pages into a fresh out-root, then the fully committed re-run
  (``job.full_s`` + ``resume.noop_s``);
  ``operator_anchor``: each anchor query once straight after
  ``clear_caches`` and once warm (``anchor.cold_s`` + ``anchor.warm_s``).
"""

from __future__ import annotations

# Pinned anchor set, one query from each of five operator families
# (relational, dedup, sketch, tokenizer, curation). It is kept this small so
# that one cold + warm pass (~25 s at local[4]) fits in a run. Changing it
# changes what anchor.* and operator_anchor's pass_s mean.
ANCHORS = (
    "q1_pricing_summary",
    "dedup_simhash",
    "sketch_heavy_hitters_cms",
    "tokenizer_bpe_encode",
    "dedup_lines_global",
)

KERNEL_KINDS = ("html", "pdf", "xlsx", "xls", "csv", "text", "binary")

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
)

# (name, unit, better, end-to-end metric it moves, workloads it moves on)
_LAYERS = [
    ("session.start_s", "s", "lower", "setup_s", "all"),
    ("session.peak_rss_mb", "MB", "lower", "setup_s", "all"),
    ("trace.overhead_s", "s", "lower", "none (traced minus untraced pass)", "all"),
    ("scan.s", "s", "lower", "pass_s", "job_resume"),
    ("scan.bytes", "bytes", "lower", "pass_s", "job_resume"),
    ("exchange.s", "s", "lower", "pass_s", "job_resume"),
    ("exchange.shuffle_bytes", "bytes", "lower", "pass_s", "job_resume"),
    ("exchange.part_rows_max_mean", "ratio", "lower", "pass_s", "job_resume"),
    ("boundary.s", "s", "lower", "pass_s", "job_resume"),
    ("boundary.batches", "count", "lower", "pass_s", "job_resume"),
    ("boundary.rows_per_batch", "count", "higher", "pass_s", "job_resume"),
    ("extract.s", "s", "lower", "pass_s", "job_resume"),
    ("extract.executor_run_s", "s", "lower", "pass_s", "job_resume"),
    ("extract.task_ms_max_med", "ratio", "lower", "pass_s", "job_resume"),
    *[
        (f"kernel.parse_ms.{k}", "ms", "lower", "pass_s", "job_resume")
        for k in KERNEL_KINDS
    ],
    ("kernel.fields_ms", "ms", "lower", "pass_s", "job_resume"),
    ("kernel.validate_ms", "ms", "lower", "pass_s", "job_resume"),
    ("kernel.cpu_s", "s", "lower", "pass_s", "job_resume"),
    ("job.full_s", "s", "lower", "pass_s", "job_resume"),
    ("resume.noop_s", "s", "lower", "pass_s", "job_resume"),
    ("sink.append_s", "s", "lower", "pass_s", "job_resume"),
    ("sink.bytes_written", "bytes", "lower", "pass_s", "job_resume"),
    ("sink.files", "count", "lower", "pass_s", "job_resume"),
    ("resume.pending_s", "s", "lower", "pass_s", "job_resume"),
    ("metrics.reconcile_s", "s", "lower", "pass_s", "job_resume"),
    ("job.spark_jobs", "count", "lower", "pass_s", "job_resume"),
    ("anchor.cold_s", "s", "lower", "pass_s", "operator_anchor"),
    ("anchor.warm_s", "s", "lower", "pass_s", "operator_anchor"),
    ("memo.entries", "count", "lower", "pass_s", "operator_anchor"),
    ("memo.cached_bytes", "bytes", "lower", "pass_s", "operator_anchor"),
]
for _q in ANCHORS:
    _LAYERS += [
        (f"op.{_q}.warm_s", "s", "lower", "pass_s", "operator_anchor"),
        (f"op.{_q}.cold_s", "s", "lower", "pass_s", "operator_anchor"),
        (f"op.{_q}.shuffle_bytes", "bytes", "lower", "pass_s", "operator_anchor"),
        (f"op.{_q}.spill_bytes", "bytes", "lower", "pass_s", "operator_anchor"),
        (f"op.{_q}.tasks", "count", "lower", "pass_s", "operator_anchor"),
    ]

PER_LAYER = tuple(m[:3] for m in _LAYERS)
UNITS = {m[0]: m[1] for m in END_TO_END + PER_LAYER}
