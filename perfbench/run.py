"""The repository benchmark: one closed-loop client driving the package.

Usage (from the repository root):

    python3 perfbench/run.py --workload star_olap --seed 1 --seconds 14 --trace 0

One process, one SparkSession on ``local[<cores>]``, one client that
starts each call only after the previous one returned. A run:

1. generates the input tables once per checkout (``gen.py``, in a child
   process, fixed data seed) under ``perfbench/.work/data`` and removes
   every model-cache entry keyed to them, so each run starts with an
   empty persisted model cache;
2. sets up ``SETUPS`` times, each a cold start from process start:
   ``SETUPS - 1`` child processes (``coldstart.py``), then this process,
   each importing the package, starting the session with
   ``session.get_spark`` and opening each table the workload reads with
   a cold ``catalog.load_table``; this process keeps its session;
3. runs the first pass, timing each step;
4. runs warm passes until ``--seconds`` have passed (at least two),
   keeps those the hypervisor did not steal CPU from (or the two it
   stole least from), then discards leading passes that have not
   levelled off;
5. reads the driver's memory, then checks the first pass's outputs:
   query results against their DuckDB ``oracle_sql()`` twins;
   ``ann_lifecycle`` checks its index invariants right after each step
   of the first pass instead, since they depend on the state between
   steps;
6. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``, from spans written to ``perfbench/.work/spans``).

The seed fixes the order of the steps in a pass and the
``ann_lifecycle`` append and delete slices.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(WORK, "data", "sf0.01")
SF, DATA_SEED = 0.01, 42
#: cold starts per run; their median is ``setup_s``
SETUPS = 2
CORES = len(os.sched_getaffinity(0))
#: a leading warm pass this much slower than the median of the passes
#: after it has not levelled off yet and is discarded
LEVEL = 1.10
#: a warm pass during which the hypervisor gave more than this share of
#: the machine's CPU time to other guests (steal, from /proc/stat) is
#: not kept: on a shared host such passes ran up to ~70% slower
STEAL_MAX = 0.05

WORKLOADS = ("star_olap", "ann_lifecycle")

#: modules whose build and execute time is reported on its own
MODULES = (
    "operators.relational",
    "operators.tpch_full",
    "operators.windows",
    "operators.analytics",
    "transform",
    "streaming.batch_parity",
    "llm.similarity",
)
ANN_STEPS = ("build", "serve", "append", "delete", "compact")


def _env() -> None:
    """Keep every file Spark, the JVM and DuckDB write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # without -XX:-UsePerfData every JVM writes /tmp/hsperfdata_<user>/<pid>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = tmp


def _ensure_data() -> None:
    if os.path.exists(os.path.join(DATA, "_DONE")):
        return
    staging = DATA + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    # a child process, so generation does not count in this one's memory
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), staging, str(SF), str(DATA_SEED)],
        check=True,
        timeout=300,
    )
    open(os.path.join(staging, "_DONE"), "w").close()
    shutil.rmtree(DATA, ignore_errors=True)
    os.rename(staging, DATA)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, args, tracer):
        self.args, self.tracer = args, tracer
        self.spark = None
        self.setups: list[dict] = []
        self.warm_loads: list[float] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        #: (record, step, result, pass) whose check waits for ``run_checks``
        self.deferred: list[tuple] = []
        self.memory: dict = {}

    # -- set-up ------------------------------------------------------------
    def set_up(self, import_s: float, tables, parent) -> None:
        """Cold starts in ``SETUPS - 1`` child processes, then in this one."""
        import coldstart
        from data_engineering_zoomcamp_projects_spark.catalog import load_table

        for _ in range(SETUPS - 1):
            child = subprocess.run(
                [sys.executable, os.path.join(HERE, "coldstart.py"), DATA, str(self.args.trace), *tables],
                check=True,
                stdout=subprocess.PIPE,
                text=True,
                timeout=150,
            )
            self.setups.append(json.loads(child.stdout.splitlines()[-1]))
        self.spark, figures = coldstart.set_up(import_s, DATA, tables, self.tracer, parent)
        self.setups.append(figures)
        for t in tables:
            t0 = time.perf_counter()
            load_table(self.spark, DATA, t)
            self.warm_loads.append(time.perf_counter() - t0)

    def run_checks(self) -> None:
        for rec, step, result, p in self.deferred:
            self._check(rec, step, result, p)
        self.deferred = []

    # -- passes ------------------------------------------------------------
    def _fail(self, rec: dict, p: int, exc: Exception) -> None:
        rec["ok"] = False
        self.failed += 1
        self.errors.append(f"pass {p} {rec['op']}: {exc!r}")
        traceback.print_exc(file=sys.stderr)

    def _check(self, rec: dict, step, result, p: int) -> None:
        try:
            bad = step.check(result)
            if bad:
                raise AssertionError(bad)
        except Exception as exc:
            self._fail(rec, p, exc)

    def run_pass(self, workload, p: int, parent, check: bool) -> dict:
        """Run one pass; with ``check``, check each step's output outside
        its timed part: right after the step when the workload's checks
        depend on the state between steps, else in ``run_checks``."""
        from pyspark.sql import DataFrame

        ops = []
        with self.tracer.span("pass", parent, index=p) as ps:
            for step in workload.steps(p):
                rec = {"op": step.name, "module": step.module, "ok": True}
                self.attempted += 1
                with self.tracer.span("op", ps, op=step.name, module=step.module) as osp:
                    try:
                        t0 = time.perf_counter()
                        with self.tracer.span("build", osp, spark=True) as bs:
                            result = step.run()
                        t1 = time.perf_counter()
                        es = None
                        if isinstance(result, DataFrame):
                            with self.tracer.span("execute", osp, spark=True) as es:
                                result.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                        rec.update(build_s=t1 - t0, exec_s=t2 - t1, latency=t2 - t0)
                        rec["build"] = bs.attrs if bs else None
                        rec["exec"] = es.attrs if es else None
                    except Exception as exc:  # an op failure is counted, not fatal
                        self._fail(rec, p, exc)
                ops.append(rec)
                if rec["ok"] and check and step.check is not None:
                    if workload.inline_checks:
                        self._check(rec, step, result, p)
                    else:
                        self.deferred.append((rec, step, result, p))
        workload.end_pass(p)
        done = [o for o in ops if o["ok"]]
        return {
            "index": p,
            "traced": ps is not None,
            "seconds": sum(o["latency"] for o in done),
            "ops": ops,
        }


def _level(passes: list[dict]) -> tuple[list[dict], int]:
    """Drop leading passes slower than LEVEL x the median of the rest (keep two)."""
    i = 0
    while len(passes) - i > 2 and passes[i]["seconds"] > LEVEL * _median(
        [q["seconds"] for q in passes[i + 1:]]
    ):
        i += 1
    return passes[i:], i


def _percentile(xs: list[float], q: int) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def _metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(r: Runner, kept: list[dict]) -> dict:
    lat = [o["latency"] for p in kept for o in p["ops"] if o["ok"]]
    return {
        "setup_s": _metric(_median([s["seconds"] for s in r.setups]), "s"),
        "pass_s": _metric(_median([p["seconds"] for p in kept]), "s"),
        "op_p50_s": _metric(_median(lat), "s"),
        "op_p90_s": _metric(_percentile(lat, 90), "s"),
        "ops_ok_ratio": _metric(1 - r.failed / max(1, r.attempted), "ratio"),
        "retained_mb": _metric(r.memory["jvm_retained_mb"] + r.memory["py_rss_mb"], "MB"),
    }


def _sum(p: dict, phase: str, key: str, module: str | None = None) -> float:
    return sum(
        (o[phase] or {}).get(key, 0)
        for o in p["ops"]
        if o["ok"] and (module is None or o["module"] == module)
    )


def _seconds(p: dict, phase: str, module: str | None = None) -> float:
    return sum(
        o[f"{phase}_s"]
        for o in p["ops"]
        if o["ok"] and (module is None or o["module"] == module)
    )


def _counter_columns(p: dict) -> list:
    """Per-op execute counters that must repeat exactly on identical code."""
    keys = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")
    return [
        [o["op"]] + [(o["exec"] or {}).get(k, 0) for k in keys] for o in p["ops"] if o["ok"]
    ]


def per_layer(r: Runner, first, measured, traced, discarded, stats, mismatches) -> dict:
    def med(f):
        return _median([f(p) for p in traced])

    out = {
        "setup.import_s": (_median([s["import_s"] for s in r.setups]), "s"),
        "session.get_spark_s": (_median([s["get_spark_s"] for s in r.setups]), "s"),
        "catalog.load_table_cold_s": (_median([s["cold_load_s"] for s in r.setups]), "s"),
        "catalog.load_table_warm_s": (_median(r.warm_loads), "s"),
        "catalog.load_table_cold_jobs": (_median([s["cold_jobs"] for s in r.setups]), "count"),
        "first_pass_s": (first["seconds"], "s"),
        "build.jobs.first_pass": (_sum(first, "build", "jobs"), "count"),
    }
    for phase in ("build", "execute"):
        key = "build" if phase == "build" else "exec"
        out[f"{phase}.s"] = (med(lambda p: _seconds(p, key)), "s")
        for c in ("jobs", "stages", "tasks"):
            out[f"{phase}.{c}"] = (med(lambda p: _sum(p, key, c)), "count")
    busy = out["build.s"][0] + out["execute.s"][0]
    out["build.share"] = (out["build.s"][0] / busy if busy else 0.0, "ratio")
    for m in MODULES:
        out[f"build.s.{m}"] = (med(lambda p: _seconds(p, "build", m)), "s")
        out[f"build.jobs.{m}"] = (med(lambda p: _sum(p, "build", "jobs", m)), "count")
        out[f"execute.s.{m}"] = (med(lambda p: _seconds(p, "exec", m)), "s")

    def both(p, c):
        return _sum(p, "build", c) + _sum(p, "exec", c)

    for name, c, unit in (
        ("spark.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
        ("spark.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
        ("spark.input_bytes", "input_bytes", "bytes"),
        ("spark.executor_cpu_s", "executor_cpu_s", "s"),
        ("spark.executor_run_s", "executor_run_s", "s"),
        ("spark.tasks_failed", "tasks_failed", "count"),
    ):
        out[name] = (med(lambda p, c=c: both(p, c)), unit)
    out["spark.slot_utilization"] = (
        med(lambda p: both(p, "executor_run_s") / (p["seconds"] * CORES) if p["seconds"] else 0.0),
        "ratio",
    )
    for s in ANN_STEPS:
        ops = [
            o
            for p in traced
            for o in p["ops"]
            if o["ok"] and o["op"] == s and r.args.workload == "ann_lifecycle"
        ]
        out[f"annstore.{s}_s"] = (_median([o["latency"] for o in ops]), "s")
        out[f"annstore.{s}_jobs"] = (
            _median([(o["build"] or {}).get("jobs", 0) + (o["exec"] or {}).get("jobs", 0) for o in ops]),
            "count",
        )
    src = stats.get("source_bytes", 0)
    out["annstore.generations"] = (stats.get("generations", 0), "count")
    out["annstore.files"] = (stats.get("files", 0), "count")
    out["annstore.bytes"] = (stats.get("bytes", 0), "bytes")
    out["annstore.bytes_per_source_byte"] = (stats["bytes"] / src if src else 0.0, "ratio")
    out["driver.jvm_rss_mb"] = (r.memory["jvm_peak_mb"], "MB")
    out["driver.py_rss_mb"] = (r.memory["py_peak_mb"], "MB")
    out["driver.jvm_retained_mb"] = (r.memory["jvm_retained_mb"], "MB")
    out["warmup.discarded_passes"] = (discarded, "count")
    out["host.steal_ratio"] = (_median([p["steal"] for p in measured]), "ratio")
    out["host.stolen_passes"] = (sum(p["steal"] > STEAL_MAX for p in measured), "count")
    untraced, _ = _level(_clean([p for p in measured if not p["traced"]]))
    out["trace.overhead_s"] = (
        med(lambda p: p["seconds"]) - _median([p["seconds"] for p in untraced]),
        "s",
    )
    out["counters.mismatches"] = (mismatches, "count")
    out["ops.samples"] = (sum(len(p["ops"]) for p in traced), "count")
    return {k: _metric(v, u) for k, (v, u) in out.items()}


def _counter_mismatches(traced: list[dict], workload: str, seed: int) -> int:
    """Ops whose execute counters differ between traced passes of this run,
    or from the last traced run of the same workload and seed."""
    cols = [_counter_columns(p) for p in traced]
    bad = sum(
        1 for other in cols[1:] for a, b in zip(cols[0], other) if a != b
    )
    path = os.path.join(WORK, "counters", f"{workload}-{seed}.json")
    if cols and os.path.exists(path):
        with open(path) as fh:
            prev = json.load(fh)
        bad += sum(1 for a, b in zip(prev, cols[0]) if a != b)
    if cols:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(cols[0], fh)
    return bad


def _clean(passes: list[dict]) -> list[dict]:
    """Passes the hypervisor did not slow down (see STEAL_MAX); when fewer
    than two are, the two it slowed least."""
    clean = [p for p in passes if p["steal"] <= STEAL_MAX]
    if len(clean) < 2:
        least = sorted(passes, key=lambda p: p["steal"])[:2]
        clean = [p for p in passes if any(p is q for q in least)]
    return clean


def _measure(runner: Runner, wl, parent, args) -> list[dict]:
    """Warm passes until ``args.seconds`` have passed (at least two, three
    when traced), each with the share of CPU time stolen while it ran."""
    from spans import steal_jiffies

    ticks = os.sysconf("SC_CLK_TCK") * (os.cpu_count() or 1)
    measured: list[dict] = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < args.seconds or len(measured) < 2 + args.trace:
        p = len(measured) + 1
        # a traced run alternates traced and untraced passes so the
        # difference between them is the tracing overhead
        runner.tracer.enabled = args.trace == 1 and p % 2 == 1
        s0, w0 = steal_jiffies(), time.perf_counter()
        measured.append(runner.run_pass(wl, p, parent, check=False))
        measured[-1]["steal"] = (steal_jiffies() - s0) / (ticks * (time.perf_counter() - w0))
    runner.tracer.enabled = args.trace == 1
    return measured


def _memory(spark) -> dict:
    """The driver's memory once the warm passes are done, before any check."""
    from spans import jvm_pid, jvm_retained_mb, rss_mb

    gc.collect()
    return {
        "jvm_retained_mb": jvm_retained_mb(spark),
        "py_rss_mb": rss_mb(),
        "jvm_peak_mb": rss_mb(jvm_pid(spark), "VmHWM"),
        "py_peak_mb": rss_mb(field="VmHWM"),
    }


def run(args, runner: Runner, import_s: float) -> dict:
    import check
    import workloads as W

    tracer = runner.tracer
    oracle = check.Oracle(DATA, WORK, CORES)
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed) as root:
            if args.workload == "ann_lifecycle":
                runner.set_up(import_s, W.AnnLifecycle.tables, root)
                wl = W.AnnLifecycle(runner.spark, DATA, WORK, ROOT, args.seed)
            else:
                runner.set_up(import_s, W.STAR_TABLES, root)
                wl = W.QueryWorkload(W.STAR_OLAP, runner.spark, DATA, args.seed, oracle)
            with tracer.span("workload", root, workload=args.workload) as ws:
                first = runner.run_pass(wl, 0, ws, check=True)
                measured = _measure(runner, wl, ws, args)
            stats = wl.layer_stats()
        runner.memory = _memory(runner.spark)
        runner.run_checks()
    finally:
        oracle.close()
    result = {"correct": runner.failed == 0, "attempted": runner.attempted, "failed": runner.failed}
    if args.trace:
        traced = [p for p in measured if p["traced"]]
        traced, discarded = _level(_clean(traced))
        mismatches = _counter_mismatches(traced, args.workload, args.seed)
        result["metrics"] = per_layer(runner, first, measured, traced, discarded, stats, mismatches)
        tracer.dump(os.path.join(WORK, "spans", f"{args.workload}-{args.seed}.json"))
    else:
        kept, discarded = _level(_clean(measured))
        result["metrics"] = end_to_end(runner, kept)
    for e in runner.errors:
        print(e, file=sys.stderr)
    print(
        "setups:", [round(x["seconds"], 3) for x in runner.setups],
        "passes:", [round(p["seconds"], 3) for p in [first] + measured],
        "steal:", [round(p["steal"], 3) for p in measured],
        "discarded:", discarded,
        file=sys.stderr,
    )
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    import coldstart

    try:
        coldstart.import_package()
    except ImportError as exc:
        print(f"package not found under {ROOT}: {exc}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - PROCESS_START
    _env()
    _ensure_data()
    from workloads import drop_cache_entries

    drop_cache_entries(ROOT, DATA)
    from spans import Tracer

    runner = Runner(args, Tracer(args.trace == 1))
    try:
        result = run(args, runner, import_s)
    finally:
        coldstart.stop(runner.spark)
        drop_cache_entries(ROOT, DATA)
        for name in ("ann", "tmp"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
