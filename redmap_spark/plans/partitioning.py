"""Partitioning helpers shared by operators and inventory queries."""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

# Logical-plan nodes that imply the input's width was already set by
# an exchange (or will be, by AQE): the shuffle chose the partition
# count, and spread() must not second-guess it. Join is deliberately
# NOT in this list — a broadcast dim join over a scan keeps the
# scan's (possibly deficient) width, and that is exactly the shape
# spread() exists to heal. A join the optimizer executes as a SHUFFLE
# (sort-merge) join does get its width from the exchange, and the
# repartition this helper would add on top is a real (not free)
# round-robin shuffle of the post-join rows — it is only ever reached
# when BOTH gates below agree the data is scan-narrow (few files AND
# few estimated splits), which a fact⋈fact shuffle join at scale
# never is.
_POST_SHUFFLE_NODES = (
    "Aggregate",
    "Repartition",
    "RepartitionByExpression",
    "Window",
    "Deduplicate",
    "Sort",
)


def leaf_bytes(files: list[str]) -> int | None:
    """Summed on-disk bytes of a plan's leaf files (``df.inputFiles()``),
    so a directory dataset reports the sum of its part files, not the
    directory inode. ``None`` when any input is a non-local URI (it
    cannot be stat-ed here: no byte evidence); a local file that
    cannot be stat-ed raises ``OSError``."""
    total = 0
    for f in files:
        if not f.startswith("file:"):
            return None
        total += os.path.getsize(unquote(urlparse(f).path))
    return total


def spread(df: DataFrame) -> DataFrame:
    """Heal deficient scan parallelism before map-heavy work.

    Local testdata tables are single parquet files, so a scan (or a
    broadcast dim join over one) is 1-3 input partitions and a
    per-row-expensive stage (decimal moment folds, kernel fan-outs,
    broadcast k-NN scoring, E-steps) runs on as many cores.
    Repartition to the session's default parallelism ONLY when the
    scan is narrow on BOTH axes:

    - file count: ``len(df.inputFiles())`` * 2 <= defaultParallelism —
      on a real cluster a fact scan is thousands of files, so the
      heal is a no-op there; and
    - estimated split count: parquet is splittable by row group, so a
      SINGLE large file still scans wide. Estimated splits =
      plan-stats bytes / ``spark.sql.files.maxPartitionBytes``; when
      that alone reaches half the target the scan needs no heal and
      repartitioning it would BE the data-sized shuffle this helper
      promises never to add.

    Width is judged from ``df.inputFiles()`` + optimized-plan stats —
    metadata walks only. No ``df.rdd`` conversion happens here:
    probing the RDD of an AQE plan with upstream exchanges would
    eagerly materialize its query stages and the work would then
    re-run at action time. Plans whose width was already set by a
    shuffle (aggregate / window / sort / explicit repartition
    upstream) and plans with no file-source leaves (checkpointed /
    in-memory inputs) are returned unchanged.

    Results are unaffected: house folds are order-independent by the
    registry's determinism rules (tests/test_determinism.py)."""
    analyzed = df._jdf.queryExecution().analyzed().toString()
    if any(node in analyzed for node in _POST_SHUFFLE_NODES):
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) * 2 > target:
        return df
    # Byte gate (r9, ADVICE): LEAF file bytes over the session's split
    # size bound the scan's real parallelism from below. The bytes
    # come from stat-ing df.inputFiles() directly — NOT from
    # optimizedPlan().stats().sizeInBytes(), whose estimate MULTIPLIES
    # across joins (a 3 MB scan under a broadcast dim join reports
    # ~200 GB) and would block the heal on exactly the
    # join-over-narrow-scan shape it exists for (the r9 bench caught
    # that: the r8 heal-wave entries regressed to pre-heal times
    # until this was switched to leaf bytes). Non-local URIs can't be
    # stat-ed from the driver: fall back to file count alone — at
    # cluster scale a fact scan is thousands of files, so the heal is
    # a no-op there regardless. A stat FAILURE on a local file is
    # different (ADVICE r10): the byte evidence is gone but the file
    # may be a single large splittable parquet, so skip the heal
    # entirely — a perf-only conservative miss beats adding the
    # data-sized shuffle the byte gate exists to prevent.
    try:
        size_bytes = leaf_bytes(files) or 0
    except OSError:
        return df
    try:
        split_bytes = int(
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
    except Exception:  # noqa: BLE001 — conf probe is best-effort
        split_bytes = 128 * 1024 * 1024
    est_splits = max(len(files), size_bytes // max(split_bytes, 1))
    if est_splits * 2 > target:
        return df
    return df.repartition(target)
