"""Benchmark for the KG-construction engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 8 --trace 0

``--workload`` is ``kg_build``, ``kg_fixpoint`` or ``all`` (every workload in one process).  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a separate
traced run.  ``--size tiny`` is a seconds-long smoke mode.

The run starts Spark on ``local[<nproc>]``, generates (or reuses) the
seeded inputs, sets up several times, then measures checked passes for
``--seconds`` seconds.  Every pass's output is compared with the expected
output.  Stdout ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records how the run ran.  The exit code is 0 only if every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

PROCESS_START = time.perf_counter()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# set-ups per run; setup_s is their median
SETUPS = 3
# fewest measured passes per run, however long they take
MIN_PASSES = 3
# stated tolerance of trace.layer_sum_ratio (layer self times summed over
# the untraced full-pass wall); a traced run outside it fails its check
LAYER_SUM_RATIO = (0.5, 1.5)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument(
        "--workload", required=True, choices=["kg_build", "kg_fixpoint", "all"]
    )
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["bench", "tiny"], default="bench")
    return p.parse_args(argv)


def configure_env() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and size the local master to the cpus this process may use."""
    from perfbench.inputs import DATA_DIR
    from perfbench.ledger import nproc

    tmp = os.path.join(DATA_DIR, "tmp")
    local = os.path.join(DATA_DIR, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())


class Session:
    """The benchmark's SparkSession, restartable in the running JVM."""

    def __init__(self):
        from perfbench.ledger import nproc

        self.master = f"local[{nproc()}]"
        self.spark = None
        self.used = False
        self.start()

    def start(self):
        from nexus_forge_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=self.master,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart(self):
        self.spark.stop()
        return self.start()

    def fresh(self):
        """A SparkSession that has run nothing yet: the JVM's first session
        the first time, a restarted one after that."""
        if self.used:
            return self.restart()
        self.used = True
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def describe(self) -> dict:
        jvm = self.spark._jvm
        args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        return {
            "master": self.master,
            "spark_version": self.spark.version,
            "driver_java_options": self.spark.conf.get("spark.driver.extraJavaOptions", ""),
            "driver_memory": self.spark.conf.get("spark.driver.memory", ""),
            "jvm_input_args": [str(a) for a in args],
        }

    def close(self) -> None:
        """Stop Spark, then end the gateway JVM and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def load_pins(size: str, workload: str, seed: int) -> dict | None:
    with open(os.path.join(BENCH_DIR, "pins.json"), encoding="utf-8") as f:
        pins = json.load(f)
    return pins.get(size, {}).get(workload, {}).get(str(seed))


class Counter:
    """Checked operations attempted and failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, fn, *args):
        """Run one checked operation; returns (wall seconds, its result), or
        None if it raised (the traceback goes to stderr)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn(*args)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        return time.perf_counter() - t0, result

    def verify(self, ok: bool, message: str) -> None:
        """Count one check that needs no Spark work."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {message}", file=sys.stderr)


def run_workload(
    session: Session, name: str, args, ops: Counter, jvm_start_s: float
) -> tuple[dict, dict]:
    """Measure one workload; returns (metrics, run record).

    ``setup_s`` is ``jvm_start_s`` (process start to the first SparkSession:
    imports, JVM launch, session) plus the median of ``SETUPS`` set-ups in
    that JVM, each the inputs loaded into a fresh SparkSession and the first
    (cold) checked pass.  Only the first set-up of a process runs in a cold
    JIT.
    """
    from perfbench import inputs
    from perfbench.ledger import cpu_ticks, median, reset_hwm, vm_hwm_kb
    from perfbench.workloads import SIZES, WORKLOADS

    params = SIZES[args.size][name]
    t0 = time.perf_counter()
    generated = not os.path.exists(
        os.path.join(inputs.input_dir(name, params, args.seed), "expected.json")
    )
    path, expected = inputs.ensure_inputs(session.spark, name, params, args.seed)
    # generating ran Spark jobs, so the session is no longer fresh
    session.used = session.used or generated
    gen_s = time.perf_counter() - t0
    pin = load_pins(args.size, name, args.seed)
    wl = WORKLOADS[name](path, expected, pin)
    record = {
        "workload": name,
        "inputs": {**params, **expected},
        "expected_from": "pin+oracle" if pin else "oracle",
        "generated_inputs": generated,
        "generate_s": gen_s,
    }

    setups = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = session.fresh()
        wl.load(spark)
        if ops.check(wl.run_pass, spark) is None:
            return {}, record
        setups.append(time.perf_counter() - t0)
    record["setup_samples_s"] = setups

    for _ in range(wl.warmup_passes):
        if ops.check(wl.run_pass, spark) is None:
            return {}, record
    if args.trace:
        return traced(wl, spark, args.seconds, ops, record)

    pids = [os.getpid(), session.jvm_pid()]
    record["peak_rss_reset"] = all(reset_hwm(p) for p in pids)
    walls = []
    ticks = cpu_ticks()
    start = time.perf_counter()
    while len(walls) < MIN_PASSES or time.perf_counter() - start < args.seconds:
        done = ops.check(wl.run_pass, spark)
        if done is None:
            return {}, record
        walls.append(done[0])
    steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
    record["wall_samples_s"] = walls
    record["cpu_steal_share"] = steal / total if total else 0.0
    wall_s = median(walls)
    return {
        "setup_s": jvm_start_s + median(setups),
        "wall_s": wall_s,
        "items_per_s": wl.items / wall_s,
        "peak_rss_mb": sum(vm_hwm_kb(p) for p in pids) / 1024,
    }, record


def traced(wl, spark, seconds: float, ops: Counter, record: dict) -> tuple[dict, dict]:
    """Alternate an untraced pass with a traced repetition for ``seconds``
    (at least once each).  Each repetition starts with its traced full
    pass, so the tracing overhead compares neighbouring passes."""
    from perfbench.ledger import Ledger, median
    from perfbench.workloads import LAYER_METRICS

    ledger = Ledger(spark)
    walls, reps = [], []
    start = time.perf_counter()
    while not reps or time.perf_counter() - start < seconds:
        done = ops.check(wl.run_pass, spark)
        if done is None:
            return {}, record
        walls.append(done[0])
        done = ops.check(wl.trace, spark, ledger)
        if done is None:
            return {}, record
        reps.append(done[1])
    record["wall_samples_s"] = walls
    record["traced_reps"] = len(reps)
    metrics = {k: 0.0 for k in LAYER_METRICS}
    for key in reps[0]:
        metrics[key] = median([r[key] for r in reps])
    metrics.update(wl.layer_counts(spark))
    wall_s = median(walls)
    metrics["trace.wall_s"] = wall_s
    metrics["trace.overhead_s"] = metrics["trace.full_traced_s"] - wall_s
    ratio = metrics["trace.layer_sum_s"] / wall_s
    metrics["trace.layer_sum_ratio"] = ratio
    lo, hi = LAYER_SUM_RATIO
    ops.verify(
        lo <= ratio <= hi,
        f"{wl.name}: layer self times sum to {ratio:.3f} x the untraced wall, "
        f"outside [{lo}, {hi}]",
    )
    return metrics, record


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench.ledger import nproc
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}

    configure_env()
    session = Session()
    jvm_start_s = time.perf_counter() - PROCESS_START
    ops = Counter()
    metrics: dict[str, dict] = {}
    run = {
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "nproc": nproc(),
        "jvm_start_s": jvm_start_s,
        **session.describe(),
        "workloads": [],
    }
    names = ["kg_build", "kg_fixpoint"] if args.workload == "all" else [args.workload]
    try:
        for name in names:
            got, record = run_workload(session, name, args, ops, jvm_start_s)
            run["workloads"].append(record)
            if not got:
                break
            missing = set(units) - set(got)
            if missing:
                raise RuntimeError(f"{name}: no value for {sorted(missing)}")
            prefix = f"{name}." if len(names) > 1 else ""
            for key, unit in units.items():
                metrics[prefix + key] = {"value": got[key], "unit": unit}
    finally:
        session.close()

    correct = ops.failed == 0
    for key, m in metrics.items():
        print(f"{key:48s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({"run": run}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
