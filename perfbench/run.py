"""Benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process, a closed loop with one
client: each operation starts when the previous one returns. The
Spark session runs local[N] with N = the CPUs this process may use.

A run makes its inputs (cached under ``.perfbench_cache``), sets the
program up once, then runs whole passes over the workload's operations
for ``--seconds`` on a cold cache (``clearCache`` before each pass),
and finally checks the outputs, untimed. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` records spans, reads Spark's counters
after every operation and prints the per-layer metrics. The last
stdout line is the result JSON; logs go to stderr. A full record of
the run, with its spans when traced, goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent

import inputs  # noqa: E402
import measure  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The JIT keeps speeding operations up after the first pass, so the
# first timed pass is often the slowest; the medians over the passes of
# a 20 s window (three to six on 4 cores) absorb it. A second warm pass
# cost more of the run budget than it took out of the spread.
WARM_PASSES = 1
SPINS = 3  # noise probes before and after the window
CACHE_MODE = "cold"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "cpu_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "warmup_s": "s",
    "build_s": "s",
    "build_jobs": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.slot_util": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "peak_rss_mb": "MB",
    "host.spin_s": "s",
    "host.busy_frac": "ratio",
    "host.steal_frac": "ratio",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
}
_PASS_SUMS = ("build_s", "build_jobs", "spark.exec_s", "spark.jobs",
              "spark.stages", "spark.tasks", *measure.STAGE_SUMS)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure_environment(cores: int, work: Path) -> dict:
    """Everything the program reads from the environment, set before
    the JVM starts. The Python workers get the checkout on their
    PYTHONPATH: the strict lane unpickles program functions there, and
    the runner's cwd is its own work dir, not the checkout. Spark's
    temp and local dirs go to the work dir too, and the JVMs run
    without their perf-data file, which HotSpot writes to
    /tmp/hsperfdata_<user> whatever java.io.tmpdir says: a run writes
    only inside its checkout. The driver heap stays the program's."""
    jvm_tmp = work / "jvm-tmp"
    jvm_tmp.mkdir(parents=True)
    pythonpath = os.pathsep.join(
        p for p in (str(CHECKOUT), os.environ.get("PYTHONPATH")) if p)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYTHONPATH": pythonpath,
        # machine-read output: no console progress bars on the JVM side
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
        # every JVM, spark-submit's launcher included
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={jvm_tmp} "
                              "-XX:-UsePerfData"),
    }
    os.environ.update(env)
    return env


class Runner:
    def __init__(self, wl, seed: int, seconds: int, trace: bool,
                 cores: int, work: Path):
        import ops

        self.wl, self.seed, self.seconds = wl, seed, seconds
        self.trace, self.cores, self.work = trace, cores, work
        self.tracer = measure.Tracer(trace)
        self.ops = ops.make(wl, CHECKOUT)
        self.spark = None
        self.counters: measure.SparkCounters | None = None
        self.failures: list[str] = []
        self.n_ops = 0

    def log_failure(self, what: str, exc: BaseException) -> None:
        self.failures.append(f"{what}: {exc!r}")
        log(f"FAILED {what}\n" + "".join(traceback.format_exception(exc)))

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for every process
        this run started to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        tree = [p for p in measure.process_tree() if p != os.getpid()]
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.perf_counter() + 30
        while tree and time.perf_counter() < deadline:
            tree = [p for p in tree if Path(f"/proc/{p}").exists()
                    and _state(p) != "Z"]
            time.sleep(0.05)
        for p in tree:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass

    # --- phases ----------------------------------------------------------

    def setup(self) -> dict:
        """Process start to ready: a session from ``get_spark``, the
        query registry, and WARM_PASSES untimed passes of the timed
        operations, under a fresh TMPDIR so the program's build-once
        staging is paid in the set-up."""
        from discogs_xml_to_parquet_spark import registry
        from discogs_xml_to_parquet_spark.session import get_spark

        tmp = self.work / "tmp"
        tmp.mkdir()
        os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
        rec = {}
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            with self.tracer.span("session.start"):
                a = time.perf_counter()
                self.spark = get_spark(app_name="perfbench")
                self.spark.sparkContext.setLogLevel("ERROR")
                rec["session.start_s"] = time.perf_counter() - a
            with self.tracer.span("registry.import"):
                a = time.perf_counter()
                registry.load_all_queries()
                rec["registry.import_s"] = time.perf_counter() - a
            with self.tracer.span("warmup"):
                a = time.perf_counter()
                for _ in range(WARM_PASSES):
                    self.ops.warm(self)
                rec["warmup_s"] = time.perf_counter() - a
        rec["setup_s"] = time.perf_counter() - t0
        log("setup: " + ", ".join(f"{k}={v:.3f}" for k, v in rec.items()))
        return rec

    def run_op(self, name: str) -> dict:
        self.n_ops += 1
        group = f"pb-{self.tracer.run_id}-{self.n_ops}"
        rec = {"op": name, "cache": CACHE_MODE, "cores": self.cores}
        with self.tracer.span("op", op=name):
            t0 = time.perf_counter()
            try:
                rec.update(self.ops.run(self, name, group))
            except Exception as e:  # noqa: BLE001 - counted as failed
                self.log_failure(f"op {name}", e)
                rec.update(ok=False, error=repr(e))
            rec["wall_s"] = time.perf_counter() - t0
            if self.trace:
                c = self.counters.collect([group + "-build", group + "-exec"])
                rec["trace_read_s"] = time.perf_counter() - t0 - rec["wall_s"]
                rec.update(c)
                rec["build_jobs"] = c["jobs_by_group"][group + "-build"]
                rec["spark.exec_s"] = rec.get("exec_s", 0.0)
        return rec

    def window(self) -> list[dict]:
        """Whole passes until ``seconds`` have gone by, at least one."""
        rng = random.Random(self.seed)
        names = self.ops.ops()
        passes: list[dict] = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < self.seconds:
            self.spark.catalog.clearCache()
            order = rng.sample(names, len(names))
            with self.tracer.span("pass", index=len(passes)):
                p0 = time.perf_counter()
                ops = [self.run_op(n) for n in order]
                wall = time.perf_counter() - p0
            passes.append({"index": len(passes), "wall_s": wall,
                           "ops": ops})
        return passes

    def run(self) -> tuple[dict, dict]:
        with self.tracer.span("prepare"):
            self.ops.prepare(self)
        setup = self.setup()
        if self.trace:
            self.counters = measure.SparkCounters(self.spark.sparkContext)
        # the noise probe runs outside the CPU and wall window
        spins = [measure.spin_s() for _ in range(SPINS)]
        pids = measure.process_tree()
        cpu0, host0, w0 = (measure.tree_cpu_s(pids), measure.host_cpu_s(),
                           time.perf_counter())
        with self.tracer.span("window"):
            passes = self.window()
        pids = measure.process_tree()
        window_s = time.perf_counter() - w0
        cpu_s = measure.tree_cpu_s(pids) - cpu0
        host = {f"host.{k}_frac": (b - a) / (window_s * os.cpu_count())
                for k, a, b in zip(("busy", "steal"), host0,
                                   measure.host_cpu_s())}
        # the two long-lived processes; Python workers come and go
        peak_rss = measure.peak_rss_mb([os.getpid(), *measure.jvm_pids(pids)])
        host["host.spin_s"] = spins + [measure.spin_s()
                                       for _ in range(SPINS)]
        ladder = {}
        if self.trace:
            with self.tracer.span("ladder"):
                ladder = self.ops.ladder(self)
        with self.tracer.span("checks"):
            checks = self.ops.final_checks(self)
        return self.summarize(setup, passes, window_s, cpu_s, host,
                              peak_rss, ladder, checks)

    # --- reporting -------------------------------------------------------

    def summarize(self, setup, passes, window_s, cpu_s, host, peak_rss,
                  ladder, checks) -> tuple[dict, dict]:
        med = measure.median
        bad_checks = {c["op"] for c in checks if not c["ok"]}
        ops = [o for p in passes for o in p["ops"]]
        # an operation whose output check failed fails every timed run
        failed = sum(1 for o in ops if not o.get("ok")
                     or o["op"] in bad_checks)
        op_walls = [o["wall_s"] for o in ops]
        walls = [p["wall_s"] for p in passes]
        tail = measure.tail_percentile(len(op_walls))
        extra = {
            "op_samples": len(op_walls),
            "passes": len(passes),
            "window_s": window_s,
            "op_tail_percentile": tail,
            "op_tail_s": measure.percentile(op_walls, tail) if tail else None,
            **host,
            "peak_rss_mb": peak_rss,
        }
        if self.ops.kind == "convert":
            for name in self.ops.ops():
                lane = [o["wall_s"] for o in ops if o["op"] == name]
                extra[f"{name}.rows_per_s"] = self.wl.n_releases / med(lane)
                extra[f"{name}.out_bytes_ratio"] = (
                    self.ops.out_bytes(name) / self.ops.in_bytes)
        if self.trace:
            metrics = self._per_layer(setup, passes, ladder, extra)
            metrics.update(host, peak_rss_mb=peak_rss)
            metrics["host.spin_s"] = med(host["host.spin_s"])
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": setup["setup_s"],
                "wall_s": med(walls),
                "op_p50_s": op_p50(ops),
                "cpu_s": cpu_s / len(passes),
            }
            units = END_TO_END
        result = {
            "correct": not bad_checks and failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in units},
        }
        record = {
            "run_id": self.tracer.run_id,
            "workload": self.wl.name,
            "why": self.wl.why,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": self.trace,
            "cores": self.cores,
            "master": self.spark.sparkContext.master if self.spark else None,
            "cache": CACHE_MODE,
            "inputs": self.ops.describe(),
            "setup": setup,
            "passes": passes,
            "checks": checks,
            "failures": self.failures,
            "extra": extra,
            "ladder": ladder,
            "result": result,
        }
        return result, record

    def _per_layer(self, setup, passes, ladder, extra) -> dict:
        med = measure.median
        sums = []
        for p in passes:
            s = {k: sum(o.get(k, 0) for o in p["ops"])
                 for k in (*_PASS_SUMS, "trace_read_s")}
            s["wall"] = p["wall_s"]
            s["op_wall"] = sum(o["wall_s"] for o in p["ops"])
            sums.append(s)
        m = {k: med([s[k] for s in sums]) for k in _PASS_SUMS}
        if ladder:
            m["build_s"] = ladder["build"] + ladder["strict_build"]
        m["spark.slot_util"] = med([
            s["spark.executor_run_s"] / (s["op_wall"] * self.cores)
            for s in sums])
        for k in ("session.start_s", "registry.import_s", "warmup_s"):
            m[k] = setup[k]
        # time the traced pass spent reading counters, which the
        # untraced run does not
        m["trace.overhead_s"] = med([s["trace_read_s"] for s in sums])
        m["trace.unaccounted_s"] = med([
            s["wall"] - s["spark.exec_s"] - s["build_s"] - s["trace_read_s"]
            for s in sums])
        # operations whose REST job counts never matched the status
        # tracker's within the read timeout
        extra["counter_mismatches"] = sum(
            1 for p in passes for o in p["ops"] if not o["settled"])
        extra["per_op"] = {
            name: {
                "build_s": med([o["build_s"] for o in ops]),
                "exec_s": med([o["exec_s"] for o in ops]),
                "jobs": med([o["spark.jobs"] for o in ops]),
                "build_jobs": med([o["build_jobs"] for o in ops]),
                "tasks": med([o["spark.tasks"] for o in ops]),
                "cache": CACHE_MODE, "cores": self.cores,
            }
            for name in self.ops.ops()
            if (ops := [o for p in passes for o in p["ops"]
                        if o["op"] == name and o.get("ok")])
        }
        per_op = extra["per_op"]
        if ladder and {"convert", "convert_strict"} <= set(per_op):
            # each layer's self time: the difference of adjacent rungs
            g = ladder["gunzip"]
            extra["convert_layers"] = {
                "convert.gunzip_s": g,
                "convert.parse_s": ladder["parse"] - g,
                "convert.shape_s": ladder["shape"] - ladder["parse"],
                "convert.write_s": (per_op["convert"]["exec_s"]
                                    - ladder["shape"]),
                "convert_strict.parse_s": ladder["strict_parse"] - g,
                "convert_strict.write_s": (per_op["convert_strict"]["exec_s"]
                                           - ladder["strict_parse"]),
                "convert.in_bytes": self.ops.in_bytes,
                "convert.out_rows": self.wl.n_releases,
                **{f"{n}.{k}": v for n in self.ops.ops() for k, v in (
                    ("tasks", per_op[n]["tasks"]),
                    ("out_bytes", self.ops.out_bytes(n)))},
            }
        return m


def op_p50(ops: list[dict]) -> float:
    """The median over the workload's operations of each operation's
    median latency. Pooling all samples would let the median fall
    between two operations' extremes when their latencies do not
    overlap; with two operations this is the mean of their medians."""
    by_op: dict[str, list[float]] = {}
    for o in ops:
        by_op.setdefault(o["op"], []).append(o["wall_s"])
    return measure.median([measure.median(v) for v in by_op.values()])


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"


def write_record(record: dict) -> Path:
    out = CHECKOUT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    path = out / (f"{record['workload']}-seed{record['seed']}"
                  f"-trace{int(record['trace'])}.json")
    path.write_text(json.dumps(record, indent=1, default=str))
    old = sorted(out.glob("*.json"), key=lambda p: p.stat().st_mtime)
    for p in old[:-64]:
        p.unlink()
    return path


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(CHECKOUT))
    # fails here, before any output or file, when run outside a checkout
    import discogs_xml_to_parquet_spark  # noqa: F401

    cores = len(os.sched_getaffinity(0))
    work = CHECKOUT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = configure_environment(cores, work)
    os.chdir(work)
    runner = Runner(WORKLOADS[args.workload], args.seed, args.seconds,
                    bool(args.trace), cores, work)
    try:
        with runner.tracer.span("run", workload=args.workload,
                                seed=args.seed):
            result, record = runner.run()
        record["environment"] = env
        record["spans"] = runner.tracer.to_json()
    finally:
        runner.stop()
        os.chdir(CHECKOUT)
        shutil.rmtree(work, ignore_errors=True)
    inputs.prune_releases(CHECKOUT)
    log(f"record: {write_record(record)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
