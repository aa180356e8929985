"""Closed-loop workload benchmark for ballista_extensions_spark.

One client drives one local Spark session: each query of the workload is
planned (the registered query function is called) and then executed to
the ``noop`` sink, one after another. A run

1. sets the session up several times (``get_session()`` plus the first
   ``load_table(...).count()`` of every table the workload reads) and
   reports the median;
2. records the box-speed calibration reading (the range aggregation
   ``bench.py`` records);
3. runs one check pass outside the timed window: every query's collected
   output is hash-compared with its DuckDB oracle, or counted rows-only
   where the registry has none;
4. runs untimed passes to warm the JIT on the timed path, then timed
   passes until ``--seconds`` have elapsed (at least one).
   Each execution observes its own row count and compares it with the
   count the check pass verified, and each query and pass records its
   wall time and the CPU time of the benchmark's process tree (driver
   Python, JVM, Python workers).

With ``--trace 1`` passes alternate untraced and traced; a traced pass
reads the UI REST API, a streaming listener and ``/proc`` per query
(``layers.py``), and the run reports the traced passes' per-layer
metrics plus the tracing overhead against the untraced passes.

The last stdout line is the JSON result; the complete record (per query,
per pass, environment, calibration) goes to
``.perfbench/results/<workload>-seed<n>-trace<t>.json``.

Run it from the repository root with the environment BENCHMARK.json
pins, e.g.::

    env SPARK_GRAFT_CPUS=2 SPARK_GRAFT_DRIVER_MEM=4g \\
        SPARK_LOCAL_DIRS=.perfbench/spark-local \\
        python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import math
import os
import platform
import random
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


@dataclass(frozen=True)
class Workload:
    sf: str
    tables: tuple[str, ...]  # the tables its queries read; setup touches these
    queries: tuple[str, ...]


#: The workloads. A run pays about 30 s of fixed cost (cold JVM, three
#: setups, calibration, a cold check pass) and two warm-up passes before
#: its timed passes, and the benchmark's whole schedule of runs must fit
#: in under an hour on 4 cores, so each workload is a few seconds of
#: warm work.
WORKLOADS = {
    # Multi-job curation chains: collect/checkpoint driver gaps between
    # jobs and Arrow mapInPandas codecs in Python workers.
    "curation": Workload("sf0.01", ("documents",), (
        "multimodal_curation_funnel",
        "bpe_tokenize_4k_vocab",
    )),
    # A streaming replay: micro-batches, a state store and a foreachBatch
    # sink that writes a parquet store beside the reads.
    "replay": Workload("sf0.1", ("events",), ("streaming_dedup_replay",)),
}

#: (name, unit) of the end-to-end metrics, in BENCHMARK.json order.
#: The pass metrics are CPU time: on a shared host the pass wall time
#: follows the host's steal, and over ten runs of the same code it
#: spread twice as widely as the CPU a pass used. Wall times are
#: printed and recorded with every run.
END_TO_END = (
    ("cpu_s", "s"),
    ("query_cpu_geomean_s", "s"),
    ("setup_s", "s"),
    ("setup_peak_rss_mb", "MB"),
)

#: Setups per run; setup_s is their median.
SETUPS = 3

#: Untimed passes after the check pass: the JIT compiles the timed
#: path over the first noop passes, and a timed pass that follows a
#: single warm-up pass ran about 30% slower than the next ones.
WARM_PASSES = 2

#: Environment BENCHMARK.json's command pins; a run refuses to start
#: without them so every recorded figure has the same core count,
#: heap and scratch location.
PINNED_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")


class Tally:
    """Attempted and failed query executions; every failure or wrong
    output counts in ``error_rate``."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[dict] = []

    def record(self, query: str, phase: str, problem: str | None) -> bool:
        self.attempted += 1
        if problem is not None:
            self.failures.append({"query": query, "phase": phase, "problem": problem})
            print(f"# FAIL {query} ({phase}): {problem}", file=sys.stderr)
        return problem is None

    @property
    def error_rate(self) -> float:
        return len(self.failures) / self.attempted if self.attempted else 0.0


def _load(relpath: str):
    """Import a repository file that is not in a package."""
    name = os.path.splitext(os.path.basename(relpath))[0]
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _selfcheck():
    """tools/selfcheck.py, whose normalization the oracle check reuses."""
    return _load(os.path.join("tools", "selfcheck.py"))


def compare_output(sc, scols, stypes, srows, dcols, dtypes, drows) -> str | None:
    """Why a Spark result differs from its oracle result, or None when
    they match exactly (columns, declared types, row count, values)."""
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} vs {sorted(dcols)}"
    dtype_of = dict(zip(dcols, dtypes))
    bad = [(c, stypes[c], str(dtype_of[c])) for c in scols
           if not sc._type_ok(stypes[c], dtype_of[c])]
    if bad:
        return f"declared-type mismatch {bad}"
    if len(srows) != len(drows):
        return f"rowcount {len(srows)} vs {len(drows)}"
    if sc._rowset(scols, srows) != sc._rowset(dcols, drows):
        return "value mismatch"
    return None


def percentile_note(values: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples
    beyond it (the maximum when there are too few samples)."""
    vals = sorted(values)
    n = len(vals)
    note = f"median {statistics.median(vals):.4f}"
    for p in (99, 90):
        if n * (100 - p) / 100 >= 10:
            note += f", p{p} {vals[math.ceil(n * p / 100) - 1]:.4f}"
            break
    else:
        note += f", max {vals[-1]:.4f}"
    return note + f", n={n}"


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end_metrics(passes: list[dict], setups: list[dict],
                       setup_peak_kib: int) -> dict[str, float]:
    """The --trace 0 metrics from untraced passes and the setups."""
    return {
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "query_cpu_geomean_s": statistics.median(p["query_cpu_geomean_s"] for p in passes),
        "setup_s": statistics.median(s["session_s"] + s["touch_s"] for s in setups),
        "setup_peak_rss_mb": setup_peak_kib / 1024,
    }


def per_layer_metrics(traced: list[dict], setups: list[dict]) -> dict[str, float]:
    """The --trace 1 metrics: medians over traced passes, and the
    setup layers' medians over the setups."""
    from layers import PER_LAYER

    out = {name: statistics.median(p["layers"][name] for p in traced)
           for name, _ in PER_LAYER}
    out["session.start_s"] = statistics.median(s["session_s"] for s in setups)
    out["io.first_touch_s"] = statistics.median(s["touch_s"] for s in setups)
    return out


def result_line(tally: Tally, metrics: dict[str, float], units) -> str:
    unit = dict(units)
    return json.dumps({
        "correct": not tally.failures,
        "attempted": tally.attempted,
        "failed": len(tally.failures),
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    })


def _testdata_root() -> str:
    """Where the fixed testdata lives: $SPARK_GRAFT_TESTDATA, else the
    parent of the test suite's declared data directory."""
    if os.environ.get("SPARK_GRAFT_TESTDATA"):
        return os.environ["SPARK_GRAFT_TESTDATA"]
    conftest = _load(os.path.join("tests", "conftest.py"))
    return os.path.dirname(os.path.normpath(conftest.SF_DIR))


def _prepare_env() -> dict[str, str]:
    """Check the pinned environment and keep every file the run writes
    (Python temp files, the JVM's java.io.tmpdir, Spark local dirs,
    replay stores) inside the checkout."""
    missing = [k for k in PINNED_ENV if not os.environ.get(k)]
    if missing:
        raise SystemExit(f"unset {missing}: run the command in BENCHMARK.json")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.abspath(os.environ["SPARK_LOCAL_DIRS"])
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell')
    return {k: os.environ[k] for k in PINNED_ENV}


class Bench:
    """One benchmark invocation: a session, a workload and its tally."""

    def __init__(self, workload: str, seed: int, sf_dir: str):
        from ballista_extensions_spark.queries import get_oracles, get_queries

        self.wl = WORKLOADS[workload]
        self.sf_dir = sf_dir
        registry = get_queries()
        self.fns = {q: registry[q] for q in self.wl.queries}
        self.oracles = get_oracles()
        self.rng = random.Random(seed)
        self.tally = Tally()
        self.verified_rows: dict[str, int] = {}
        self.spark = None

    def order(self) -> list[str]:
        order = list(self.wl.queries)
        self.rng.shuffle(order)
        return order

    def setup(self) -> list[dict]:
        from ballista_extensions_spark.io import invalidate_table_cache, load_table
        from ballista_extensions_spark.session import get_session

        setups = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
                invalidate_table_cache()
            t0 = time.time()
            self.spark = get_session("perfbench")
            t1 = time.time()
            for t in self.wl.tables:
                load_table(self.spark, self.sf_dir, t).count()
            setups.append({"session_s": t1 - t0, "touch_s": time.time() - t1})
        return setups

    def calibration_s(self) -> float:
        t0 = time.time()
        self.spark.range(0, 1_000_000_000, 1, 32).selectExpr(
            "sum(id * 3 % 7) AS s").collect()
        return time.time() - t0

    def check_pass(self) -> list[dict]:
        """Collect every query once and compare it with its oracle."""
        import duckdb
        from ballista_extensions_spark.io import TABLES

        sc = _selfcheck()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        records = []
        for q in self.order():
            rec = {"query": q, "oracle": q in self.oracles}
            problem = None
            try:
                t0 = time.time()
                sdf = self.fns[q](self.spark, self.sf_dir)
                scols, stypes = sdf.columns, dict(sdf.dtypes)
                srows = [[r[c] for c in scols] for r in sdf.collect()]
                rec["spark_s"] = time.time() - t0
                self.verified_rows[q] = rec["rows"] = len(srows)
                if q in self.oracles:
                    t0 = time.time()
                    rel = con.sql(self.oracles[q])
                    drows = rel.fetchall()
                    rec["oracle_s"] = time.time() - t0
                    problem = compare_output(
                        sc, scols, stypes, srows,
                        [d[0] for d in rel.description], rel.types, drows)
            except Exception as e:  # noqa: BLE001 — a failing query is a counted error
                problem = f"{type(e).__name__}: {e}"[:300]
            rec["ok"] = self.tally.record(q, "check", problem)
            records.append(rec)
            sdf = None
            gc.collect()
        con.close()
        return records

    def _execute(self, q: str, tracer) -> dict:
        """Plan and execute one query to the noop sink, observing its row
        count within the same execution."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from layers import tree_cpu_s

        rec: dict = {"query": q}
        problem = None
        m0 = tracer.rest.mark() if tracer else None
        try:
            obs = Observation()
            c0 = tree_cpu_s()
            t0 = time.time()
            df = self.fns[q](self.spark, self.sf_dir).observe(
                obs, F.count(F.lit(1)).alias("n"))
            t1 = time.time()
            m1 = tracer.rest.jobs() if tracer else None
            t2 = time.time()
            df.write.format("noop").mode("overwrite").save()
            rows = int(obs.get["n"])
            t3 = time.time()
            c3 = tree_cpu_s()
        except Exception as e:  # noqa: BLE001 — a failing query is a counted error
            problem = f"{type(e).__name__}: {e}"[:300]
        else:
            rec.update(call_s=t1 - t0, action_s=t3 - t2, s=(t1 - t0) + (t3 - t2),
                       cpu_s=c3 - c0, rows=rows)
            if rows != self.verified_rows.get(q):
                problem = f"observed {rows} rows, verified {self.verified_rows.get(q)}"
            if tracer:
                rec["layers"] = tracer.query_layers(q, m0, m1, (t0, t1), (t2, t3), rec)
        rec["ok"] = self.tally.record(q, "timed", problem)
        return rec

    def timed_pass(self, tracer=None) -> dict:
        from layers import box_steal_s, tree_cpu_s

        steal0, c0 = box_steal_s(), tree_cpu_s()
        t0 = time.time()
        records = []
        for q in self.order():
            records.append(self._execute(q, tracer))
            gc.collect()
        wall = time.time() - t0
        cpu, steal = tree_cpu_s() - c0, box_steal_s() - steal0
        ok = [r for r in records if r["ok"]]
        out = {"traced": tracer is not None, "wall_s": wall, "cpu_s": cpu,
               "query_geomean_s": geomean([r["s"] for r in ok]) if ok else float("nan"),
               "query_cpu_geomean_s": (geomean([r["cpu_s"] for r in ok])
                                       if ok else float("nan")),
               "box_steal_s": steal,
               "queries": records}
        if tracer:
            out["layers"] = tracer.pass_layers(records)
        return out


class Tracer:
    """Per-query layer capture for one traced pass (see layers.py)."""

    def __init__(self, spark, slots: int, stage_root: str) -> None:
        from layers import ProgressLog, RestTrace, RssSampler, jvm_pid

        self.spark = spark
        self.rest = RestTrace(spark)
        self.slots = slots
        self.stage_root = stage_root
        self.listener = ProgressLog()
        self.sampler = RssSampler(jvm_pid(spark))

    def __enter__(self) -> "Tracer":
        self.spark.streams.addListener(self.listener)
        self.sampler.__enter__()
        return self

    def __exit__(self, *exc) -> None:
        self.sampler.__exit__(*exc)
        self.spark.streams.removeListener(self.listener)

    def query_layers(self, q, m0, m1, call_win, action_win, rec) -> dict:
        """Layer metrics of one executed query; raises EvictedError when
        the UI no longer retains all of its jobs or stages."""
        from layers import set_busy, streaming_layers, tree_bytes, union_length

        m2 = self.rest.mark()
        jobs = self.rest.new_jobs(m0, m2)
        out, intervals = self.rest.layers(m0, m2, jobs)
        out.update(streaming_layers(self.listener.take()))
        out["queries.call_s"] = rec["call_s"]
        out["queries.action_s"] = rec["action_s"]
        out["queries.call_jobs"] = float(len(self.rest.new_jobs(m0, m1)))
        busy = (union_length(intervals, *call_win)
                + union_length(intervals, *action_win))
        set_busy(out, busy, rec["s"], self.slots)
        out["streaming.store_bytes"] = float(
            tree_bytes(os.path.join(self.stage_root, q)))
        out["driver_rss_peak_mb"] = self.sampler.peak() / 1024
        return out

    def pass_layers(self, records: list[dict]) -> dict[str, float]:
        """Per-pass totals; the driver gap is the time inside calls and
        actions with no job running, summed over the pass's queries."""
        from layers import PER_LAYER, set_busy, tree_bytes

        out = {n: sum(r["layers"][n] for r in records if "layers" in r)
               for n, _ in PER_LAYER}
        busy = out["spark.job_busy_s"]
        set_busy(out, busy, busy + out["spark.driver_gap_s"], self.slots)
        out["streaming.store_bytes"] = float(tree_bytes(self.stage_root))
        return out


def versions(spark) -> dict[str, str]:
    import pyspark

    return {
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import ballista_extensions_spark.queries.streaming_replay as replay_mod
    from layers import PER_LAYER, jvm_pid, rss_kib

    env = _prepare_env()
    wl = WORKLOADS[args.workload]
    sf_dir = os.path.join(_testdata_root(), wl.sf)
    missing = [t for t in wl.tables
               if not os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]
    if missing:
        raise SystemExit(f"no {missing} under {sf_dir} (set SPARK_GRAFT_TESTDATA)")
    stage_root = os.path.join(WORK, "stage")
    shutil.rmtree(stage_root, ignore_errors=True)
    # replays stage their streams and stores under this root
    replay_mod._STAGE_ROOT = stage_root

    bench = Bench(args.workload, args.seed, sf_dir)
    try:
        setups = bench.setup()
        spark = bench.spark
        pid = jvm_pid(spark)
        rss = {"setup": rss_kib(pid, "VmHWM")}
        calibration = bench.calibration_s()
        check = bench.check_pass()
        rss["check"] = rss_kib(pid, "VmHWM")
        # the check pass collects; these untimed passes warm the noop path
        warm = [bench.timed_pass() for _ in range(WARM_PASSES)]
        rss["warm"] = rss_kib(pid, "VmHWM")
        passes: list[dict] = []
        t0 = time.time()
        while True:
            if args.trace and len(passes) % 2 == 1:
                with Tracer(spark, int(env["SPARK_GRAFT_CPUS"]), stage_root) as tracer:
                    passes.append(bench.timed_pass(tracer))
            else:
                passes.append(bench.timed_pass())
            done = time.time() - t0 >= args.seconds
            if done and (not args.trace or len(passes) >= 2):
                break
        rss["timed"] = rss_kib(pid, "VmHWM")
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "sf_dir": sf_dir, "env": env,
            "versions": versions(spark), "calibration_s": calibration,
            "peak_rss_kib_after": rss,
            "setups": setups, "check": check, "warm": warm, "passes": passes,
            "failures": bench.tally.failures, "error_rate": bench.tally.error_rate,
        }
    finally:
        if bench.spark is not None:
            shutdown(bench.spark)

    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    if args.trace:
        metrics = per_layer_metrics(traced, setups)
        units = PER_LAYER
        record["tracing_overhead"] = (
            statistics.median(p["wall_s"] for p in traced)
            / statistics.median(p["wall_s"] for p in untraced) - 1)
    else:
        metrics = end_to_end_metrics(untraced, setups, rss["setup"])
        units = END_TO_END
    record["metrics"] = metrics
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)

    print(f"# {args.workload} seed={args.seed} env={env} versions={record['versions']}")
    print(f"# calibration {calibration:.3f} s (1e9-row range aggregation)")
    print(f"# pass wall_s [s] {percentile_note([p['wall_s'] for p in passes])}")
    print(f"# pass query_geomean_s [s] {percentile_note([p['query_geomean_s'] for p in passes])}")
    print(f"# pass cpu_s [s] {percentile_note([p['cpu_s'] for p in passes])}")
    print(f"# pass steal_s [s] {percentile_note([p['box_steal_s'] for p in passes])}")
    print(f"# query wall [s] {percentile_note([r['s'] for p in passes for r in p['queries'] if r['ok']])}")
    print(f"# setup_s [s] {percentile_note([s['session_s'] + s['touch_s'] for s in setups])}")
    print(f"# driver_peak_rss_mb {rss['timed'] / 1024:.1f} MB (after setup "
          f"{rss['setup'] / 1024:.1f}, check {rss['check'] / 1024:.1f}, "
          f"warm-up {rss['warm'] / 1024:.1f})")
    print(f"# error_rate {bench.tally.error_rate:.4f} "
          f"({len(bench.tally.failures)} of {bench.tally.attempted})")
    if args.trace:
        print(f"# tracing overhead {record['tracing_overhead']:+.3%} of pass wall time")
    print(f"# record {os.path.relpath(path, ROOT)}")
    print(result_line(bench.tally, metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
