"""The benchmark's workloads and the layer map its metrics follow.

Every workload is a closed loop with one client: one driver process on
the program's default session (``local[*]``) builds and executes one entry
at a time, and each entry starts after the previous one finishes. A run is
one fresh process: set-up, one cold pass, then warm passes until the run's
seconds are spent.

Entries and scales are cut so that one run takes about 45 s (iter-graph)
and 75 s (data-x8) on a 4-core host, where the JVM launch and warm-up job
alone cost ~13 s. The two workloads load opposite layers; each keeps the
entries that load its layer most.
"""

from __future__ import annotations

from dataclasses import dataclass

# Used to confirm a claim after it was made on other seeds; never tune on it.
HELD_OUT_SEED = 7919


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float       # gen.generate scale of the base tables
    copies: int        # gen.generate copies of the star tables and documents
    doc_scale: float   # gen.generate scale of the base documents
    entries: tuple[str, ...]  # inventory entries, or "pipeline_chain"
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="iter-graph",
            scale=0.01,
            copies=1,
            doc_scale=0.01,
            entries=("mr_pagerank",),
            why="The flagship iterative entry: bound by the scheduler and by "
                "the checkpoint barriers it fires while building, not by data.",
        ),
        Workload(
            name="data-x8",
            scale=0.1,
            copies=8,
            doc_scale=0.001,
            # pipeline_chain: the fluent Pipeline chain with a parquet sink.
            entries=("q3_shipping_priority", "pipeline_chain"),
            why="q3 on the TPC-H star x8 of scale 0.1 (4.8M lineitem rows, "
                "growing dimensions), whose time grows with the copies; and "
                "the Pipeline chain on 400 documents, the only Arrow seam and "
                "parquet sink, whose time is mostly fixed cost.",
        ),
    )
}

# layer metric -> (end-to-end metric it should move, workloads on which it
# should move it). No change is predicted on the other workload. The JVM's
# peak RSS is the one user-visible figure kept among the layer metrics, so
# storage.cached_mb points at it.
LAYER_MAP = {
    "session.get_spark_s": ("setup_s", ("iter-graph", "data-x8")),
    "catalog.first_table_s": ("first_pass_s", ("data-x8",)),
    "inventory.build_s": ("pass_s", ("iter-graph",)),
    "inventory.build_self_s": ("pass_s", ("iter-graph",)),
    "inventory.build_jobs": ("entry_p90_s", ("iter-graph",)),
    "inventory.build_stages": ("pass_s", ("iter-graph",)),
    "api.chain_build_s": ("pass_s", ("data-x8",)),
    "api.chain_build_jobs": ("pass_s", ("data-x8",)),
    "plans.plan_s": ("entry_p50_s", ("data-x8",)),
    "plans.exchanges": ("entry_p50_s", ("data-x8",)),
    "plans.broadcasts": ("entry_p50_s", ("data-x8",)),
    "plans.python_nodes": ("entry_p50_s", ("data-x8",)),
    "exec.exec_s": ("pass_s", ("data-x8",)),
    "exec.jobs": ("pass_s", ("data-x8",)),
    "exec.stages": ("pass_s", ("iter-graph", "data-x8")),
    "exec.tasks": ("pass_s", ("data-x8",)),
    "exec.core_busy_frac": ("pass_s", ("iter-graph", "data-x8")),
    "exec.task_cpu_s": ("pass_s", ("data-x8",)),
    "exec.shuffle_read_mb": ("pass_s", ("data-x8",)),
    "exec.shuffle_write_mb": ("pass_s", ("data-x8",)),
    "exec.spill_mb": ("pass_s", ("data-x8",)),
    "exec.scan_rows_per_out_row": ("pass_s", ("data-x8",)),
    "seams.python_mb": ("pass_s", ("data-x8",)),
    "seams.python_rows": ("pass_s", ("data-x8",)),
    "seams.udf_s": ("pass_s", ("data-x8",)),
    "sources.write_s": ("pass_s", ("data-x8",)),
    "sources.write_mb": ("pass_s", ("data-x8",)),
    "sources.files": ("pass_s", ("data-x8",)),
    "storage.cached_mb": ("jvm.peak_rss_mb", ("iter-graph",)),
    "jvm.peak_rss_mb": ("pass_s", ()),
    "trace.pass_s": ("pass_s", ()),
}
