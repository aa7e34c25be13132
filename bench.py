"""Benchmark: run every inventory query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line.

Each query is timed end-to-end (plan + full execution into the
`noop` sink — the standard Spark benchmarking sink: every operator
runs, results are fully materialized executor-side, but driver-side
row serialization (irrelevant to engine throughput; a real pipeline
writes parquet) is excluded). A warmup no-op runs first so
JVM/session startup isn't attributed to q1.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from redmap_spark.inventory import QUERIES  # noqa: E402
from redmap_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.removeprefix("sf") or "0.1")
    spark = get_spark("redmap-spark-bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    # SPARK_GRAFT_BENCH_REPEATS > 1 takes the min of N runs per query —
    # use locally to strip codegen-compile/GC noise (±50% run-to-run on
    # cold runs, see PERF.md §10) before judging a regression. The
    # driver's default stays 1 (cold, comparable to BASELINE.md).
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "1")))
    timings: dict[str, float] = {}
    for name in sorted(QUERIES):
        best = float("inf")
        for _ in range(repeats):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)

    total = round(sum(timings.values()), 4)

    # Warm minima (round 9, per the r8 verdict): after the cold pass,
    # re-run the slowest-N cold entries twice more and take the
    # min-of-3 — codegen compile / GC noise concentrates in the tail,
    # so re-running only the tail bounds the extra wall (~2x the tail's
    # warm sum, not 2x the whole sweep) while capturing the warm floor
    # where it matters. warm.value sums min(warm, cold) for re-run
    # entries and the cold time for the (sub-second, cold~=warm) rest —
    # an upper bound on the true all-warm total. Skipped when
    # REPEATS>1 (the whole sweep is already min-of-N then).
    warm: dict | None = None
    warm_n = int(os.environ.get("SPARK_GRAFT_BENCH_WARM_N", "40"))
    # Hard wall-clock budget for the warm pass so the driver run's
    # total stays bounded even if the tail is having a slow day —
    # a truncated warm table (n_rerun reports how many re-ran) beats
    # a driver-timeout run with NO envelope line at all.
    warm_budget = float(os.environ.get("SPARK_GRAFT_BENCH_WARM_BUDGET", "180"))
    if repeats == 1 and warm_n > 0:
        tail_names = sorted(timings, key=lambda k: (-timings[k], k))[:warm_n]
        warm_timings = dict(timings)
        budget_t0 = time.perf_counter()
        rerun = 0
        for name in tail_names:
            if time.perf_counter() - budget_t0 > warm_budget:
                break
            best = warm_timings[name]
            for _ in range(2):
                t0 = time.perf_counter()
                QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            warm_timings[name] = round(best, 4)
            rerun += 1
        tail_names = tail_names[:rerun]
        slowest = sorted(warm_timings, key=lambda k: (-warm_timings[k], k))[:15]
        warm = {
            "value": round(sum(warm_timings.values()), 1),
            "n_rerun": len(tail_names),
            "slowest": {k: round(warm_timings[k], 1) for k in slowest},
        }
        print(json.dumps({"full_warm_queries": {k: warm_timings[k] for k in tail_names}},
                         sort_keys=True))

    # Full-precision, full-name timings for humans/BASELINE.md upkeep.
    print(json.dumps({"full_queries": timings}, sort_keys=True))
    print(compact_line(timings, total, sf, warm))


def _build_compact(timings: dict[str, float], klen: int) -> dict[str, float]:
    """Short-key per-query dict: family prefixes collapse to one letter
    (dedup_->d sim_->s txt_->t mm_->m mr_->r, q_-> ""), q<N>_xxx ->
    q<N>, the remainder truncates to ``klen`` chars (collisions get a
    deterministic numeric suffix in sorted-name order), values round
    to 1 decimal. The full-name line is the human decoder ring."""
    out: dict[str, float] = {}
    for k in sorted(timings):
        k2 = re.sub(r"^q(\d+)_.*$", r"q\1", k)
        pre, rest = "", k2
        for p, r in [("dedup_", "d"), ("sim_", "s"), ("txt_", "t"),
                     ("mm_", "m"), ("mr_", "r"), ("q_", "")]:
            if k2.startswith(p):
                pre, rest = r, k2[len(p):]
                break
        s = pre + rest[:klen]
        i = 2
        while s in out:
            s = pre + rest[:klen - 1] + str(i)
            i += 1
        out[s] = round(timings[k], 1)
    assert len(out) == len(timings), "short-key collision"
    return out


def compact_line(timings: dict[str, float], total: float, sf: float,
                 warm: dict | None = None) -> str:
    """The driver stores only the LAST 2000 chars of stdout and
    json-parses from there, so the final line must fit 1900 chars.
    Staged fallback instead of crashing the driver run: 3-char keys →
    floor slow entries (≥10s) to whole seconds → floor everything ≥1s
    → 2-char keys (1s floor re-applied) → floor EVERY value to whole
    seconds (sub-second entries become 0 — full precision stays on
    the full_queries line) → POSITIONAL stages: drop the keys entirely
    and emit ``queries`` as an array of values in sorted-full-name
    order (``queries_key: "sorted-name-positional"`` — the decoder is
    ``sorted(QUERIES)`` from the repo), first with sub-second values
    at 1 decimal, then with every value floored to whole seconds;
    both positional stages slim ``warm`` to {value, n_rerun} (the
    per-entry warm table stays on the full_warm_queries line) so all
    565 entries fit the budget losslessly-by-name (round-12 fix: the
    r10/r11 driver lines overflowed into the lossy keep-N stage,
    producing phantom "dropped" queries in the round-over-round
    comparison) → finally keep only the N slowest entries plus
    ``queries_omitted``/``queries_total`` counters, shrinking N until
    the line fits (coverage of every entry then comes from the
    full-precision line alone)."""

    def envelope(q, extra: dict | None = None, slim_warm: bool = False) -> str:
        d = {
            "metric": "inventory_total_wall",
            "value": total,
            "unit": "sec",
            "queries": q,
            "sf": sf,
        }
        if warm is not None:
            d["warm"] = (
                {k: warm[k] for k in ("value", "n_rerun") if k in warm}
                if slim_warm else warm
            )
        if extra:
            d.update(extra)
        return json.dumps(d, separators=(",", ":"), sort_keys=True)

    def floored(q: dict, floor: int) -> dict:
        return {k: (int(round(v)) if v >= floor else v) for k, v in q.items()}

    compact = _build_compact(timings, 3)
    line = envelope(compact)
    for fallback in (
        lambda: floored(compact, 10),
        lambda: floored(compact, 1),
        lambda: floored(_build_compact(timings, 2), 1),
        lambda: floored(_build_compact(timings, 2), 0),
    ):
        if len(line) < 1900:
            return line
        compact = fallback()
        line = envelope(compact)
    if len(line) < 1900:
        return line
    # Positional stages: values only, sorted-full-name order, warm
    # slimmed to its two scalars. First with sub-second values at
    # 1 decimal (ints ≥1s); if that still overflows, round everything
    # to whole seconds — every entry stays present either way.
    key = {"queries_key": "sorted-name-positional"}
    for vals in (
        [(int(round(v)) if v >= 1 else round(v, 1))
         for _, v in sorted(timings.items())],
        [int(round(v)) for _, v in sorted(timings.items())],
    ):
        line = envelope(vals, key, slim_warm=True)
        if len(line) < 1900:
            return line
    # Last stage: N slowest only. Monotone in N, so walk down from the
    # largest candidate until the envelope fits.
    two_char = floored(_build_compact(timings, 2), 0)
    by_slowest = sorted(two_char, key=lambda k: (-two_char[k], k))
    for n in range(len(by_slowest), 0, -1):
        kept = {k: two_char[k] for k in by_slowest[:n]}
        line = envelope(kept, {
            "queries_omitted": len(two_char) - n,
            "queries_total": len(two_char),
        }, slim_warm=True)
        if len(line) < 1900:
            return line
    raise AssertionError(f"driver-tail budget exceeded even at N=1: {len(line)}")


if __name__ == "__main__":
    main()
