"""Layered closed-loop benchmark of the redmap_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload data-x8 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 10

One run is one fresh process: it generates the workload's inputs from the
seed, sets up a session, makes one cold pass over the workload's entries,
unmeasured settle passes, then warm passes until ``--seconds`` are spent,
and checks every entry's output after the timed region. The last stdout
line is one JSON object (``correct``, ``attempted``, ``failed``,
``metrics``): end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The full run record and, when traced, the spans go to
``.perfbench_out/``.

``--all`` runs every workload untraced and traced, each in its own process,
and prints every metric by name and unit, the failed share per workload
with the failing entries named, and the tracing overhead.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
from spans import SparkCounters, Tracer  # noqa: E402
from workloads import LAYER_MAP, WORKLOADS, Workload  # noqa: E402

ROOT = Path.cwd()
OUT = ROOT / ".perfbench_out"
TMP = ROOT / ".perfbench_tmp"
CHAIN = "pipeline_chain"
PACK_BUDGET = 64
SETTLE_S = 6.0
MIN_WARM = 3


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _quantile(xs: list[float], q: int) -> float:
    """q-th percentile, interpolated between the closest samples."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Bench:
    def __init__(self, wl: Workload, seed: int, seconds: int, traced: bool, data_dir: Path, work: Path):
        self.wl, self.seed, self.seconds, self.traced = wl, seed, seconds, traced
        self.data_dir, self.work = data_dir, work
        self.tracer = Tracer(f"{wl.name}-s{seed}", traced)
        self.spark = None
        self.failures: list[dict] = []
        self.attempted = 0
        self.passes: list[dict] = []

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        from redmap_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.wl.name}")
        self.get_spark_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1_000_000).selectExpr("sum(id)").collect()
        self.cores = self.spark.sparkContext.defaultParallelism
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        if self.traced:
            self.counters = SparkCounters(self.spark)
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            self._wrap_catalog()

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the Spark JVM; read before the JVM is stopped."""
        for line in Path(f"/proc/{self.jvm_pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
        raise RuntimeError(f"no VmHWM for JVM pid {self.jvm_pid}")

    def _wrap_catalog(self) -> None:
        """Span every Catalog.table call; mark first touches."""
        from redmap_spark.catalog import Catalog

        tracer, orig = self.tracer, Catalog.table

        def table(cat, name):
            first = (cat.sf_dir, name) not in Catalog._relation_cache.get(cat.spark, {})
            with tracer.span("catalog.table", table=name, first=first):
                return orig(cat, name)

        Catalog.table = table

    # -- one pass ---------------------------------------------------------

    def run_pass(self, pass_no: int) -> dict:
        names = list(self.wl.entries)
        random.Random(f"{self.seed}:{pass_no}").shuffle(names)
        rec = {"pass": pass_no, "order": names, "entries": {}, "frames": {}}
        t0 = time.perf_counter()
        with self.tracer.span("pass", pass_no=pass_no):
            for name in names:
                self.attempted += 1
                try:
                    rec["entries"][name] = self._run_entry(name, pass_no, rec)
                except Exception as exc:  # noqa: BLE001 — a failing entry is a result
                    self.failures.append({"entry": name, "pass": pass_no, "error": repr(exc)[:300]})
        rec["wall_s"] = time.perf_counter() - t0
        self.passes.append(rec)
        return rec

    def _phase(self, tag: str) -> None:
        if self.traced:
            self.counters.start(tag)
        else:
            self.spark.sparkContext.setJobGroup(tag, tag)

    def _run_entry(self, name: str, pass_no: int, rec: dict) -> dict:
        from redmap_spark.inventory import QUERIES
        from redmap_spark.plans import explain

        tr, traced = self.tracer, self.traced
        tag = f"{self.wl.name}:p{pass_no}:{name}"
        e: dict = {}
        t0 = time.perf_counter()
        with tr.span("entry", entry=name) as span:
            self._phase(f"{tag}:build")
            if name == CHAIN:
                with tr.span("api.chain_build", entry=name) as b:
                    chunks, packs = self._build_chain()
                df = packs.df
                rec["frames"][name] = chunks.df
            else:
                with tr.span("inventory.build", entry=name) as b:
                    df = QUERIES[name](self.spark, str(self.data_dir))
                rec["frames"][name] = df
            e["build_s"] = time.perf_counter() - t0
            if traced:
                e["build"] = self.counters.group(f"{tag}:build")
                e["build_self_s"] = tr.self_time(b)
                with tr.span("plans.explain", entry=name):
                    tp = time.perf_counter()
                    plan = explain.executed_plan(df)
                    e["plan"] = {"exchanges": explain.count_op(df, "Exchange"),
                                 "broadcasts": explain.count_op(df, "BroadcastExchange"),
                                 # PythonUDF is an expression inside those nodes.
                                 "python_nodes": sum(plan.count(n) for n in explain.PYTHON_PLAN_NODES
                                                     if n != "PythonUDF"),
                                 "plan_s": time.perf_counter() - tp}
            self._phase(f"{tag}:exec")
            te = time.perf_counter()
            if name == CHAIN:
                from redmap_spark.sources.io import write_parquet

                out = self.work / f"packs-p{pass_no}"
                with tr.span("sources.write_parquet", entry=name):
                    write_parquet(df, str(out))
                rec["packs_dir"] = out
            else:
                with tr.span("exec.noop", entry=name):
                    df.write.format("noop").mode("overwrite").save()
            e["exec_s"] = time.perf_counter() - te
            e["latency_s"] = time.perf_counter() - t0
            if traced:
                e["exec"] = self.counters.group(f"{tag}:exec")
                e["cached_mb"] = self.counters.cached_mb()
                e["udf_s"] = self._udf_profile_s()
                if name == CHAIN:
                    files = list(out.glob("*.parquet"))
                    e["write"] = {"files": len(files), "mb": sum(f.stat().st_size for f in files) / 2**20}
            span["latency_s"] = e["latency_s"]
        return e

    def _udf_profile_s(self) -> float:
        results = self.spark.profile.profiler_collector._perf_profile_results
        total = sum(stats.total_tt for stats in results.values())
        self.spark.profile.clear(type="perf")
        return total

    def _build_chain(self):
        """The training-corpus chain of the Pipeline API tests, without its
        near_dedup step: that step's transitive-cluster loop fires eager
        checkpoint jobs, which is iter-graph's layer, and it took ~70% of
        this workload's pass."""
        from pyspark.sql import Row

        from redmap_spark.api import Pipeline
        from redmap_spark.catalog import Catalog

        docs = Catalog(self.spark, str(self.data_dir)).documents
        bench = self.spark.createDataFrame([Row(text="key agg row scan slow fast table value part hash")])
        gated = (Pipeline.from_df(docs).normalize()
                 .quality_gate(min_words=10, max_words=1000, min_stop_hits=0)
                 .decontaminate(bench))
        chunks = gated.chunk(chunk_tokens=50, stride=50)
        return chunks, chunks.pack(budget=PACK_BUDGET)

    # -- measurement --------------------------------------------------------

    def measure(self) -> None:
        """One cold pass, unmeasured settle passes for ``SETTLE_S`` while
        the JIT compiles the hot paths, then measured warm passes for
        ``seconds`` and at least ``MIN_WARM``."""
        self.cold = self.run_pass(0)
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < SETTLE_S:
            self.run_pass(len(self.passes))
        settled = len(self.passes)
        t0 = time.perf_counter()
        while len(self.passes) - settled < MIN_WARM or time.perf_counter() - t0 < self.seconds:
            self.run_pass(len(self.passes))
        self.warm = self.passes[settled:]

    def check_outputs(self) -> None:
        """Check the outputs of the last warm pass (untimed)."""
        from pyspark.sql import functions as F

        from redmap_spark.inventory import ORACLES

        last = self.warm[-1]
        checker = check.OracleChecker(self.data_dir, gen.TABLES)
        self.out_rows = {}
        try:
            for name, df in last["frames"].items():
                if name not in last["entries"]:
                    continue  # already counted as a failed execution
                try:
                    if name == CHAIN:
                        chunk_tokens = df.agg(F.sum("n_chunk_tokens")).first()[0]
                        why = checker.packs(last["packs_dir"], PACK_BUDGET, chunk_tokens)
                    else:
                        got = df.toPandas()
                        self.out_rows[name] = len(got)
                        why = checker.entry(got, ORACLES.get(name))
                except Exception as exc:  # noqa: BLE001
                    why = f"check raised {exc!r}"[:300]
                if why:
                    self.failures.append({"entry": name, "pass": last["pass"], "error": why})
        finally:
            checker.close()
        for p in self.passes:
            p.pop("frames")

    # -- results --------------------------------------------------------------

    def end_to_end(self, setup_s: float) -> dict:
        lat = [e["latency_s"] for p in self.warm for e in p["entries"].values()]
        return {"setup_s": setup_s, "first_pass_s": self.cold["wall_s"],
                "pass_s": _median([p["wall_s"] for p in self.warm]),
                "entry_p50_s": _quantile(lat, 50), "entry_p90_s": _quantile(lat, 90)}, len(lat)

    def per_layer(self, rss_mb: float) -> dict:
        def per_pass(fn) -> float:
            return _median([fn(p) for p in self.warm])

        def tot(p, phase, key, only=None):
            return sum(e.get(phase, {}).get(key, 0) for n, e in p["entries"].items()
                       if only is None or (n == CHAIN) == only)

        def entries(p, chain):
            return [e for n, e in p["entries"].items() if (n == CHAIN) == chain]

        first = [s for s in self.tracer.spans if s["name"] == "catalog.table" and s.get("first")]
        rows = sum(self.out_rows.values()) or 1
        return {
            "session.get_spark_s": self.get_spark_s,
            "catalog.first_table_s": sum(s["end"] - s["start"] for s in first),
            "inventory.build_s": per_pass(lambda p: sum(e["build_s"] for e in entries(p, False))),
            "inventory.build_self_s": per_pass(lambda p: sum(e["build_self_s"] for e in entries(p, False))),
            "inventory.build_jobs": per_pass(lambda p: tot(p, "build", "jobs", False)),
            "inventory.build_stages": per_pass(lambda p: tot(p, "build", "stages", False)),
            "api.chain_build_s": per_pass(lambda p: sum(e["build_s"] for e in entries(p, True))),
            "api.chain_build_jobs": per_pass(lambda p: tot(p, "build", "jobs", True)),
            "plans.plan_s": per_pass(lambda p: tot(p, "plan", "plan_s")),
            "plans.exchanges": per_pass(lambda p: tot(p, "plan", "exchanges")),
            "plans.broadcasts": per_pass(lambda p: tot(p, "plan", "broadcasts")),
            "plans.python_nodes": per_pass(lambda p: tot(p, "plan", "python_nodes")),
            # exec covers every execution phase: the noop sinks and the
            # chain's parquet sink, whose share sources.write_s reports.
            "exec.exec_s": per_pass(lambda p: sum(e["exec_s"] for e in p["entries"].values())),
            "exec.jobs": per_pass(lambda p: tot(p, "exec", "jobs")),
            "exec.stages": per_pass(lambda p: tot(p, "exec", "stages")),
            "exec.tasks": per_pass(lambda p: tot(p, "exec", "tasks")),
            "exec.core_busy_frac": per_pass(
                lambda p: tot(p, "exec", "run_s")
                / max(1e-9, sum(e["exec_s"] for e in p["entries"].values()) * self.cores)),
            "exec.task_cpu_s": per_pass(lambda p: tot(p, "exec", "cpu_s")),
            "exec.shuffle_read_mb": per_pass(lambda p: tot(p, "exec", "shuffle_read_mb")),
            "exec.shuffle_write_mb": per_pass(lambda p: tot(p, "exec", "shuffle_write_mb")),
            "exec.spill_mb": per_pass(lambda p: tot(p, "exec", "spill_mb")),
            "exec.scan_rows_per_out_row": per_pass(lambda p: tot(p, "exec", "input_rows", False)) / rows,
            "seams.python_mb": per_pass(lambda p: tot(p, "build", "python_mb") + tot(p, "exec", "python_mb")),
            "seams.python_rows": per_pass(lambda p: tot(p, "build", "python_rows") + tot(p, "exec", "python_rows")),
            "seams.udf_s": per_pass(lambda p: sum(e["udf_s"] for e in p["entries"].values())),
            "sources.write_s": per_pass(lambda p: sum(e["exec_s"] for e in entries(p, True))),
            "sources.write_mb": per_pass(lambda p: tot(p, "write", "mb", True)),
            "sources.files": per_pass(lambda p: tot(p, "write", "files", True)),
            "storage.cached_mb": per_pass(lambda p: max((e["cached_mb"] for e in p["entries"].values()), default=0.0)),
            "trace.pass_s": per_pass(lambda p: p["wall_s"]),
            # A user-visible figure, but unbounded: most of it is the pinned
            # initial heap, and without the pin its run-to-run spread was
            # wider than any bound the benchmark may set.
            "jvm.peak_rss_mb": rss_mb,
        }


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def _environment(work: Path) -> None:
    """Keep every file Spark writes inside the checkout. The session is the
    program's default one (``local[*]``, its shuffle partitions, its 8g
    heap limit) but for the heap's initial size, pinned at 4g: grown from
    the JVM's small default, the heap took a different path in each run and
    moved warm pass time by up to 30% between runs of one seed."""
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import redmap_spark; they start from the JVM, not from
    # this process, so the repository root must be on their path too.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join([
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work} -Xms4g",
    ])


def run_one(args) -> int:
    if not (ROOT / "redmap_spark" / "inventory").is_dir():
        print(f"perfbench: no redmap_spark package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = TMP / f"{wl.name}-s{args.seed}-{os.getpid()}"
    data_dir = TMP / f"data-{wl.name}-s{args.seed}-x{wl.scale}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    OUT.mkdir(exist_ok=True)
    _environment(work)
    sys.path.insert(0, str(ROOT))
    bench = None
    try:
        tg = time.perf_counter()
        rows = gen.generate(data_dir, args.seed, wl.scale, wl.copies, wl.doc_scale)
        gen_s = time.perf_counter() - tg
        bench = Bench(wl, args.seed, args.seconds, bool(args.trace), data_dir, work)
        bench.setup()
        setup_s = time.perf_counter() - T_START - gen_s
        bench.measure()
        tc = time.perf_counter()
        bench.check_outputs()
        check_s = time.perf_counter() - tc
        rss_mb = bench.jvm_peak_rss_mb()
        layers = bench.per_layer(rss_mb) if args.trace else None
        if args.trace:
            bench.tracer.dump(OUT / f"spans-{wl.name}-s{args.seed}.jsonl")
    finally:
        _stop_spark(bench.spark if bench else None)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(data_dir, ignore_errors=True)
    e2e, n_lat = bench.end_to_end(setup_s)
    failed = len(bench.failures)
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": bench.cores, "scale": wl.scale, "copies": wl.copies, "rows": rows, "gen_s": gen_s,
        "check_s": check_s, "wall_s": time.perf_counter() - T_START,
        "end_to_end": e2e, "per_layer": layers, "jvm_peak_rss_mb": rss_mb, "layer_map": LAYER_MAP,
        "attempted": bench.attempted, "failed": failed,
        "failed_frac": failed / bench.attempted, "failures": bench.failures,
        "entry_latency_samples": n_lat,
        # The highest percentile with at least ten samples beyond it.
        "entry_supported_percentile": int(100 * (1 - 10 / n_lat)) if n_lat > 10 else None,
        "passes": [{k: v for k, v in p.items() if k != "packs_dir"} for p in bench.passes],
    }
    (OUT / f"record-{wl.name}-s{args.seed}-t{args.trace}.json").write_text(json.dumps(record, default=str))
    for f in bench.failures:
        print(f"FAILED {wl.name} {f['entry']} (pass {f['pass']}): {f['error']}")
    print(f"{wl.name}: failed_frac {failed}/{bench.attempted}, gen_s {gen_s:.2f}, "
          f"{n_lat} warm entry samples")
    metrics = layers if args.trace else e2e
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    print(json.dumps({
        "correct": failed == 0, "attempted": bench.attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload untraced and traced, each in a fresh process."""
    rows, ok = [], True
    for name in WORKLOADS:
        res = {}
        for tr in (0, 1):
            p = subprocess.run([sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
                                "--seconds", str(args.seconds), "--trace", str(tr)],
                               capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            for line in lines[:-1]:
                print(line)
            if p.returncode != 0 or not lines:
                print(f"{name} trace={tr}: exit {p.returncode}\n{p.stderr[-2000:]}")
                ok = False
                continue
            res[tr] = json.loads(lines[-1])
        for tr, r in res.items():
            ok &= r["correct"]
            rows.append((name, "failed_frac", r["failed"] / r["attempted"], "ratio"))
            for k, v in r["metrics"].items():
                rows.append((name, k, v["value"], v["unit"]))
        if 0 in res and 1 in res:
            overhead = res[1]["metrics"]["trace.pass_s"]["value"] - res[0]["metrics"]["pass_s"]["value"]
            rows.append((name, "tracing_overhead_s (trace.pass_s - pass_s)", overhead, "s"))
    for name, k, v, u in rows:
        print(f"{name:10s} {k:48s} {v:12.4f} {u}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload or --all is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
