"""Closed-loop benchmark of the engine's composed pipelines.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--scale bench|smoke]

One process, one driver thread, ``local[<cores>]``, closed loop: a pass
starts only after the previous one ended. Set-up, all charged to
``setup_s``, starts the session, generates the seeded inputs and runs one
untimed, unchecked warm-up pass on inputs of the small ``smoke`` scale,
made from the same seed. The warm-up takes the JVM's class loading, JIT
and code generation out of the timed passes; on the full inputs it would
cost a third more. The timed loop
then runs passes on the full inputs until ``--seconds`` have passed, at
least one; timings are medians over them. Every pass is checked on its
own, and later timed passes must also repeat the first one's outputs
exactly. Each pass gets fresh output directories, deleted afterwards;
the JVM collects garbage between passes, outside the timed window.
Peak memory is the driver JVM's plus this process's, over the pass only.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces the
first timed pass and reports per-layer metrics; ``trace.overhead_s`` is
the time the tracer itself spent inside that pass. The last line on
stdout is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``; metric names and units come from ``BENCHMARK.json``.
Progress goes to stderr.

Everything the run writes goes under ``.perfbench_work/run-<pid>/`` in
the checkout and is deleted at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from spans import JobAccounting, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

from yellowrush_spark_ml_pipeline_spark.session import get_spark  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "1g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    return ap.parse_args(argv)


def configure_environment(work: str, cores: int) -> None:
    """Size the engine through its own settings, keep every file the JVM
    and Python write inside the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def cpu_seconds(jvm_pid: int) -> float:
    """CPU time used so far by the driver JVM plus this Python process.
    Time the host steals from the machine is not charged to either."""
    with open(f"/proc/{jvm_pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    jvm_ticks = int(fields[11]) + int(fields[12])  # utime, stime
    own = os.times()
    return jvm_ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def reset_peak_rss(pids) -> None:
    """Restart the kernel's peak-RSS counter (VmHWM) of each process."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def peak_rss_mb(pids) -> float:
    """Peak resident memory since the last reset, summed over ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh
                             if line.startswith("VmHWM:"))
    return total_kb / 1024.0


@dataclass
class PassResult:
    wall_s: float
    cpu_s: float = 0.0
    peak_rss_mb: float = 0.0
    jobs: int = 0
    shuffle_mb: float = 0.0
    written_bytes: int = 0
    errors: dict = field(default_factory=dict)
    out: dict | None = None
    layers: dict = field(default_factory=dict)

    @property
    def failed_ops(self) -> int:
        return sum(1 for e in self.errors.values() if e)


class Runner:
    def __init__(self, work: str, spark, accounting) -> None:
        self.work = work
        self.spark = spark
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.acct = accounting
        self.n = 0

    def run_pass(self, wl, ref: dict | None,
                 traced: bool = False) -> PassResult:
        self.n += 1
        pass_dir = os.path.join(self.work, f"pass-{self.n}")
        os.makedirs(pass_dir)
        before = dir_bytes(pass_dir)
        group = self.acct.new_group("pass")
        tracer = Tracer(self.acct, group) if traced else None

        def act(layer, fn):
            if tracer is None:
                return fn()
            with tracer.span(layer, "collect"):
                return fn()

        self.acct.set_group(group)
        if tracer is not None:
            tracer.install()
        out = None
        rss_pids = (self.jvm_pid, os.getpid())
        reset_peak_rss(rss_pids)
        cpu0, t0 = cpu_seconds(self.jvm_pid), time.perf_counter()
        try:
            out = wl.run_pass(pass_dir, act)
        except Exception:  # a failed pass is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
        finally:
            wall = time.perf_counter() - t0
            cpu = cpu_seconds(self.jvm_pid) - cpu0
            rss = peak_rss_mb(rss_pids)
            if tracer is not None:
                tracer.uninstall()
            self.acct.set_group(None)

        res = PassResult(wall_s=wall, cpu_s=cpu, peak_rss_mb=rss, out=out)
        self.acct.flush()
        stats = self.acct.stats(group)
        if tracer is not None:
            for sp in tracer.spans:
                stats.add(self.acct.stats(sp.group))
            res.layers = tracer.report(wall)
        res.jobs, res.shuffle_mb = stats.jobs, stats.shuffle_write_mb
        res.written_bytes = dir_bytes(pass_dir) - before
        if out is None:
            res.errors = {op: ["pass raised"] for op in wl.ops}
        else:
            self.acct.set_group(self.acct.new_group("check"))
            try:
                res.errors = wl.check(out, pass_dir, ref)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                res.errors = {op: ["check raised"] for op in wl.ops}
            self.acct.set_group(None)
        shutil.rmtree(pass_dir)
        self.spark.sparkContext._jvm.System.gc()
        log(f"pass {self.n}{' traced' if traced else ''}: "
            f"{wall:.3f} s, {cpu:.3f} cpu s, {rss:.1f} MB peak rss, "
            f"{res.jobs} jobs ({stats.failed_jobs} failed), "
            f"{res.shuffle_mb:.3f} MB shuffled, "
            f"errors {({k: v for k, v in res.errors.items() if v})}")
        return res


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"unknown workload {args.workload!r}")
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    cores = len(os.sched_getaffinity(0))
    configure_environment(work, cores)

    wl_cls = WORKLOADS[args.workload]
    scale = gen.SCALES[args.scale]
    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}",
        shuffle_partitions=cores,
        driver_mem=DRIVER_MEM,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData",
        },
    )
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    gateway = sc._gateway
    try:
        t = time.perf_counter()
        inputs = gen.generate(os.path.join(work, "inputs"), args.seed,
                              scale, wl_cls.tables)
        warm_inputs = gen.generate(os.path.join(work, "warm-inputs"),
                                   args.seed, gen.SCALES["smoke"],
                                   wl_cls.tables)
        gen_s = time.perf_counter() - t

        t = time.perf_counter()
        warm_dir = os.path.join(work, "warm-up")
        os.makedirs(warm_dir)
        wl_cls(spark, warm_inputs).run_pass(warm_dir, lambda _l, fn: fn())
        shutil.rmtree(warm_dir)
        sc._jvm.System.gc()
        warm_s = time.perf_counter() - t
        setup_s = session_s + gen_s + warm_s
        log(f"setup {setup_s:.3f} s: session {session_s:.3f}, generate "
            f"{gen_s:.3f}, warm-up {warm_s:.3f}")
        runner = Runner(work, spark, JobAccounting(sc))
        wl = wl_cls(spark, inputs)
        passes = []
        t_loop = time.perf_counter()
        while not passes or time.perf_counter() - t_loop < args.seconds:
            passes.append(runner.run_pass(
                wl, ref=passes[0].out if passes else None,
                traced=bool(args.trace) and not passes))
    finally:
        proc = gateway.proc
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:  # another run still uses it
            pass

    first = passes[0]
    # Not an output check: the export's partitioned write has been seen to
    # fire one job more in some passes than in others.
    log(f"jobs per pass: {[p.jobs for p in passes]}")
    attempted = len(wl_cls.ops) * len(passes)
    failed = sum(p.failed_ops for p in passes)
    if args.trace:
        values = dict(first.layers)
        values["session.start_s"] = session_s
    else:
        values = {
            "setup_s": setup_s,
            "run_s": statistics.median(p.wall_s for p in passes),
            "cpu_s_per_run": statistics.median(p.cpu_s for p in passes),
            "jobs_per_run": first.jobs,
            "shuffle_mb_per_run": first.shuffle_mb,
            "bytes_written_per_input_byte":
                first.written_bytes / inputs.table_bytes(*wl_cls.tables),
            "peak_rss_mb": statistics.median(p.peak_rss_mb for p in passes),
        }
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        log(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]}
               for m in wanted}
    result = {
        "correct": failed == 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
