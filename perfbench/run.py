"""Benchmark of the Chicago-crimes analytics engine.

    python3 perfbench/run.py --workload crimes_dashboard --seed 1 --seconds 16 --trace 0

Run from the root of a source checkout. One process: it starts one Spark
session on ``local[<cpus>]`` with fresh lake, memo, checkpoint and
scratch dirs under ``.perfbench_work/runs``, generates the workload's
seeded input (a raw crimes CSV, or the star-schema tables; cached per
seed under ``.perfbench_work/inputs``), runs one warm pass, then one
timed pass per 8 s of ``--seconds``, checks every op's output and prints
one JSON object as its last line of stdout.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` repeats the
untimed part, then restarts the session with the Spark event log on,
wraps the engine's public calls in spans, runs traced passes and reports
the per-layer metrics (see BENCHMARK.json) plus the tracing overhead.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
PACKAGE = "big_data_chicago_crimes_spark"

# Raw CSV rows of the dashboard's input. About 21% survive cleaning.
ROWS = 20_000
# Timed passes come at a fixed count, one per PASS_SECONDS of --seconds
# (a pass of either workload takes 7-9 s on 4 cores), not "until the time
# is up": passes keep getting faster for minutes after the warm pass
# (8.8 s, then 8.4, 8.0, 7.0 ... 6.0 s by the tenth dashboard pass), so a
# timed loop gives a faster program, or a faster moment of the host,
# more and warmer passes and a median that moves with the pass count.
PASS_SECONDS = 8
# Scale factor of the registry workload's generated tables (60,000
# lineitem rows).
TABLES_SF = 0.01

sys.path.insert(0, str(HERE))
import gen_crimes  # noqa: E402
import gen_tables  # noqa: E402
import workloads  # noqa: E402


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def op_order(ops: list[str], seed: int, pass_id: str) -> list[str]:
    """The seed also permutes op order within each pass."""
    return random.Random(f"{seed}:{pass_id}").sample(ops, len(ops))


def configure_env(run_dir: Path) -> None:
    """Must run before the package is imported: session.DEFAULT_CPUS is
    read at import time."""
    for sub in ("local", "ckpt", "tmp", "lake", "eventlog"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = str(run_dir / "ckpt")
    # Python workers import the package too (registry UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(run_dir / "tmp")


def spark_conf(run_dir: Path, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.bdcc.lakeDir": str(run_dir / "lake"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # keep the JVM's scratch files (and its /tmp perf-data file) out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def peak_rss_mb(spark) -> float:
    """JVM high-water RSS (found through py4j, not a process-name probe)
    plus the Python driver's own peak."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway and its JVM, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def with_units(values: dict[str, float], section: str) -> dict[str, dict]:
    """Attach each metric's unit from BENCHMARK.json, which must declare
    exactly the metrics measured."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec[section]}
    if set(units) != set(values):
        raise RuntimeError(f"metrics differ from BENCHMARK.json {section}: {set(units) ^ set(values)}")
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Run:
    """One benchmark process: input, session, passes, tally."""

    def __init__(
        self, workload: str, seed: int, seconds: float, rows: int | None = None,
        sf: float | None = None,
    ):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.rows = rows or ROWS
        self.sf = sf or TABLES_SF
        self.registry = workload == workloads.Registry.name
        gen = "gen_tables.py" if self.registry else "gen_crimes.py"
        digest = hashlib.sha1((HERE / gen).read_bytes()).hexdigest()[:10]
        size = f"sf{self.sf}" if self.registry else f"r{self.rows}"
        self.input_dir = WORK / "inputs" / f"{gen[4:-3]}-s{seed}-{size}-{digest}"
        self.run_dir = WORK / "runs" / f"{workload}-s{seed}-{os.getpid()}-{time.time_ns()}"
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def start_session(self, event_log: bool):
        from big_data_chicago_crimes_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            extra_conf=spark_conf(self.run_dir, event_log),
        )
        return time.perf_counter() - t0

    def tally(self, wl, result) -> None:
        failed = wl.check_pass(result)
        self.attempted += len(result.ops)
        self.failed += len(failed)
        if failed:
            print(f"perfbench: failed ops {sorted(set(failed))}", file=sys.stderr)

    def passes(self, wl, prefix: str, on_pass=None) -> list:
        """One timed pass per PASS_SECONDS of ``seconds`` (at least one)."""
        out = []
        for i in range(max(1, round(self.seconds / PASS_SECONDS))):
            pass_id = f"{prefix}{i}"
            result = wl.run_pass(pass_id, op_order(wl.ops, self.seed, pass_id))
            self.tally(wl, result)
            if on_pass is not None:
                on_pass(pass_id, result)
            wl.discard_pass_outputs(pass_id)
            out.append(result)
        return out

    def make_workload(self):
        if self.registry:
            tables = gen_tables.generate(str(self.input_dir), self.seed, self.sf)
            return workloads.Registry(self.spark, tables, str(self.run_dir))
        csv_path, expected = gen_crimes.generate(str(self.input_dir), self.seed, self.rows)
        return workloads.Dashboard(self.spark, csv_path, expected, str(self.run_dir))

    def execute(self, trace: bool) -> dict:
        configure_env(self.run_dir)
        try:
            get_spark_s = self.start_session(event_log=False)
            # input generation is left out of setup_s
            t_gen = time.perf_counter()
            wl = self.make_workload()
            gen_s = time.perf_counter() - t_gen
            warm = wl.warm_pass(op_order(wl.ops, self.seed, "warm"))
            setup_s = time.perf_counter() - T_PROCESS - gen_s
            self.tally(wl, warm)
            wl.discard_pass_outputs("warm")
            timed = self.passes(wl, "p")
            final = wl.final_check()
            if final is not None:
                self.tally(wl, final)
            if not trace:
                metrics = self.end_to_end(wl, timed, setup_s)
            else:
                metrics = self.traced(wl, timed, get_spark_s)
        finally:
            if self.spark is not None:
                stop_spark(self.spark)
            shutil.rmtree(self.run_dir, ignore_errors=True)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def end_to_end(self, wl, timed, setup_s) -> dict:
        first_round = {
            op: median([r.seconds for p in timed for r in p.ops if r.op == op and not r.repeat])
            for op in wl.ops
        }
        return with_units({
            "setup_s": setup_s,
            "pass_s": median([p.seconds for p in timed]),
            "op_geomean_s": geomean(list(first_round.values())),
            "hit_round_s": median([s for p in timed for s in p.repeat_rounds]),
            "op_ok_ratio": (self.attempted - self.failed) / self.attempted,
        }, "end_to_end")

    def crimes_probes(self, wl) -> dict[str, float]:
        """A bare CSV scan and a bare cleaning, each to a noop sink, and
        the exact cleaned row count."""
        from big_data_chicago_crimes_spark.operators.cleaning import clean_crimes
        from big_data_chicago_crimes_spark.schemas import CRIMES_RAW_SCHEMA
        from big_data_chicago_crimes_spark.sources.readers import read_csv

        def noop_s(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        self.spark.sparkContext.setJobGroup("probe", "probe")
        raw = read_csv(self.spark, wl.csv_path, CRIMES_RAW_SCHEMA)
        scan_s = median([noop_s(raw) for _ in range(3)])
        clean_s = median([noop_s(clean_crimes(raw)) for _ in range(3)]) - scan_s
        kept, raw_rows = clean_crimes(raw).count(), raw.count()
        self.attempted += 1
        if kept != wl.expected["clean_rows"] or raw_rows != wl.expected["raw_rows"]:
            self.failed += 1
        return {
            "sources.read_csv.scan_s": scan_s,
            "operators.cleaning.clean_s": clean_s,
            "operators.cleaning.rows_kept_ratio": kept / raw_rows,
        }

    def traced(self, wl, untraced, get_spark_s) -> dict:
        from tracing import Tracer, busy_ms, parse_event_log

        self.spark.stop()
        self.start_session(event_log=True)
        tracer = Tracer(self.spark)
        wl.spark, wl.tracer = self.spark, tracer
        crimes = not self.registry
        metrics = self.crimes_probes(wl) if crimes else {
            "sources.read_csv.scan_s": 0.0,
            "operators.cleaning.clean_s": 0.0,
            "operators.cleaning.rows_kept_ratio": 0.0,
        }

        memo_bytes: dict[str, int] = {}

        def measure_memo(pass_id, result):
            memo_bytes[pass_id] = dir_bytes(os.path.join(wl.work_dir, "memo", pass_id))

        tracer.install()
        try:
            # the new session re-warms its Python workers before timing
            warm = wl.run_pass("tw", op_order(wl.ops, self.seed, "tw"))
            self.tally(wl, warm)
            wl.discard_pass_outputs("tw")
            traced = self.passes(wl, "t", on_pass=measure_memo)
        finally:
            tracer.uninstall()
        metrics["peak_rss_mb"] = peak_rss_mb(self.spark)
        self.spark.stop()
        groups = parse_event_log(str(self.run_dir / "eventlog"))
        csv_bytes = os.path.getsize(wl.csv_path) if crimes else 0

        per_pass: dict[str, dict[str, float]] = {}
        for i, result in enumerate(traced):
            pid = f"t{i}"
            gs = [g for name, g in groups.items() if name.split(":")[0].split(".")[0] == pid]
            total = lambda k: sum(g[k] for g in gs)  # noqa: E731
            busy = busy_ms([iv for g in gs for iv in g["intervals"]]) / 1000.0
            csv_busy = busy_ms([iv for g in gs for iv in g["csv_intervals"]]) / 1000.0
            spans = tracer.seconds[pid]
            build, plan, run = (
                spans[f"plans.registry.{k}"] for k in ("build", "plan", "exec")
            )
            per_pass[pid] = {
                "spark.jobs": total("jobs"),
                "spark.tasks": total("tasks"),
                "spark.no_job_s": max(result.seconds - busy, 0.0),
                "spark.executor_run_s": total("executor_run_ms") / 1e3,
                "spark.executor_cpu_s": total("executor_cpu_ns") / 1e9,
                "spark.shuffle_read_mb": total("shuffle_read_bytes") / 2**20,
                "spark.shuffle_write_mb": total("shuffle_write_bytes") / 2**20,
                "spark.input_mb": total("input_bytes") / 2**20,
                "spark.gc_s": total("gc_ms") / 1e3,
                "spark.spill_mb": total("spill_bytes") / 2**20,
                "sources.csv_reads_per_pass": (
                    total("csv_input_bytes") / csv_bytes if crimes else 0.0
                ),
                "sources.read_csv.stage_share": csv_busy / result.seconds if crimes else 0.0,
                "sources.load_tables_s": spans["sources.load_tables"],
                "sources.sinks.write_parquet_s": spans["sources.sinks.write_parquet"],
                "sources.sinks.write_share": spans["sources.sinks.write_parquet"] / result.seconds,
                "sources.sinks.memo_bytes": memo_bytes.get(pid, 0),
                "sources.sinks.path_exists_calls": tracer.calls[pid]["sources.sinks.path_exists"],
                "operators.ml.s": spans["operators.ml"],
                "operators.ml.share": spans["operators.ml"] / result.seconds,
                "operators.ml.jobs": tracer.jobs[pid]["operators.ml"],
                "render.s": spans["render"],
                "plans.registry.build_s": build,
                "plans.registry.build_jobs": tracer.jobs[pid]["plans.registry.build"],
                "plans.registry.plan_s": plan,
                "plans.registry.exec_s": run,
                "plans.registry.build_share": build / (build + plan + run) if build else 0.0,
            }
        metrics.update({k: median([p[k] for p in per_pass.values()]) for k in per_pass["t0"]})
        metrics.update({
            "session.get_spark_s": get_spark_s,
            "trace.overhead_ratio": median([p.seconds for p in traced])
            / median([p.seconds for p in untraced]),
            "op.samples": len(traced),
        })
        for op in workloads.VIEWS + workloads.REGISTRY_QUERIES:
            first = [r.seconds for p in traced for r in p.ops if r.op == op and not r.repeat]
            again = [r.seconds for p in traced for r in p.ops if r.op == op and r.repeat]
            metrics[f"op.{op}.s"] = median(first)
            metrics[f"op.{op}.jobs"] = median(
                [tracer.op_jobs[f"t{i}"][op] for i in range(len(traced))] if first else []
            )
            if op in workloads.MEMO_VIEWS + workloads.LAKE_QUERIES:
                metrics[f"op.{op}.repeat_s"] = median(again)
        for op in workloads.REGISTRY_TARGETS:
            for k in ("build", "exec"):
                metrics[f"op.{op}.{k}_s"] = median(
                    [tracer.op_seconds[f"t{i}"][op, f"plans.registry.{k}"] for i in range(len(traced))]
                    if self.registry else []
                )
        return with_units(metrics, "per_layer")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        sys.exit(f"perfbench: no {PACKAGE} package under {ROOT}; run from a source checkout")
    sys.path.insert(0, str(ROOT))
    result = Run(args.workload, args.seed, args.seconds).execute(bool(args.trace))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
