"""Closed-loop benchmark of the cost-allocation package.

One client issues ops back to back from this process on
``local[<cores>]``; each op is a registry builder call followed by a
noop write, timed from outside. Run from the repository root::

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --smoke     # every workload at sf0.001, every metric

A run generates its inputs from ``--seed`` (``datagen.py``). It then
starts the JVM and the first session, sets the session up again
``SETUPS`` times on the running JVM (``setup_s`` is the median of these
set-ups, each ``get_spark`` plus ``load_table`` of every input), and
runs one untimed op, which runs cold. The timed
pass runs a fixed number of ops set by ``--seconds``; the checkpoint
blocks each op leaves pinned are released, untimed, before the next.

The last line of stdout is one JSON object: ``correct``, ``attempted``
and ``failed`` count the timed ops, and ``metrics`` holds the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in ``BENCHMARK.json``. Spans, per-op counts and
load averages go to ``.perfbench_work/<workload>-<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "alternating_least_squares_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

SETUPS = 3  # session set-ups timed per run; setup_s is their median
MIN_OPS = 3  # timed ops per pass, whatever --seconds is

# span-derived per-layer metrics end in one of these span fields
SPAN_FIELDS = ("self_s", "wall_s", "calls")


def _declared_metrics() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
    )


def _median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def _prepare_env(work: str) -> None:
    """Pin everything the run depends on to the checkout: core count,
    package import path (Python workers import it too), Spark scratch
    and temp directories."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the spark-submit launcher runs a JVM of its own first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # no hsperfdata file: it ignores java.io.tmpdir and goes to /tmp
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _generate(sf: float, seed: int, data: str) -> dict:
    """Write the workload's input tables to ``data``; return their
    reference values."""
    import datagen
    from alternating_least_squares_spark import registry

    tables = datagen.generate(sf, seed)
    datagen.write(tables, data)
    return datagen.reference(tables, registry.GR08_ROUNDS, registry.GR05_MIN_SUPPORT)


class Runner:
    """Runs one workload's set-up, warm-up and timed pass in this
    process, and keeps what it measured."""

    def __init__(self, workload, data: str, ref: dict, trace: bool) -> None:
        import probes
        from spans import Tracer

        self.w = workload
        self.data = data
        self.ref = ref
        self.trace = trace
        self.probes = probes
        self.spark = None
        self.group = ""
        self.tracer = Tracer(
            lambda: len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self.group))
        )
        self.ops: list[dict] = []  # every op, the untimed ones included

    # -- set-up -----------------------------------------------------------

    def start_session(self) -> dict:
        from alternating_least_squares_spark import session
        from alternating_least_squares_spark.sources import load_table

        t0 = time.perf_counter()
        self.spark = session.get_spark()
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        for table in sorted({t for step in self.w.steps for t in step.tables}):
            load_table(self.spark, self.data, table)
        t2 = time.perf_counter()
        return {"get_spark_s": t1 - t0, "load_table_s": t2 - t1, "setup_s": t2 - t0}

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- one op -----------------------------------------------------------

    def run_op(self, kind: str, traced: bool = False) -> dict:
        from pyspark.sql import Observation

        spark, probes = self.spark, self.probes
        index = len(self.ops)
        self.group = f"perfbench-op-{index}"
        spark.sparkContext.setJobGroup(self.group, self.group)
        span = self.tracer.span if traced else (lambda name: contextlib.nullcontext())
        self.tracer.op = index if traced else None
        rec = {"index": index, "kind": kind, "traced": traced, "errors": []}
        observed = []
        build_s = execute_s = 0.0
        t0 = time.perf_counter()
        try:
            with span("op"):
                for step in self.w.steps:
                    captured: dict = {}
                    tb = time.perf_counter()
                    with span("registry.build"):
                        df = step.build(spark, self.data, captured)
                    te = time.perf_counter()
                    obs = Observation()
                    with span("registry.execute"):
                        df.observe(obs, *step.observe()).write.format("noop").mode(
                            "overwrite"
                        ).save()
                    build_s += te - tb
                    execute_s += time.perf_counter() - te
                    observed.append((step, obs, captured))
            rec["op_s"] = time.perf_counter() - t0
            rec["outputs"] = {}
            for step, obs, captured in observed:
                got = {**obs.get, **captured}
                rec["outputs"][step.label] = got
                rec["errors"] += [
                    f"{step.label}: {e}" for e in step.check(got, self.ref)
                ]
            rec["errors"] += self._repeat_errors(rec["outputs"])
        except Exception:  # an op that raises counts as failed; the run goes on
            rec["op_s"] = time.perf_counter() - t0
            rec["errors"].append(traceback.format_exc())
        finally:
            self.tracer.op = None
        rec["build_s"], rec["execute_s"] = build_s, execute_s
        rec["pinned_after"] = probes.pinned_rdds(spark)
        rec["job_ids"] = probes.group_job_ids(spark, self.group)
        rec["counts"] = probes.group_counts(spark, rec["job_ids"])
        probes.release_pinned(spark)
        spark.sparkContext.setJobGroup("perfbench-idle", "between ops")
        for err in rec["errors"]:
            print(f"[perfbench] op {index} ({kind}) failed: {err}", file=sys.stderr)
        self.ops.append(rec)
        return rec

    def _repeat_errors(self, outputs: dict) -> list[str]:
        """Every op must reproduce the first op's outputs: counts and
        sweeps exactly, sums to the checks' relative tolerance."""
        from workloads import REL_TOL

        first = next((o["outputs"] for o in self.ops if "outputs" in o), None)
        if first is None:
            return []
        errors = []
        for label, got in outputs.items():
            for key, want in first[label].items():
                same = (
                    math.isclose(got[key], want, rel_tol=REL_TOL)
                    if isinstance(want, float)
                    else got[key] == want
                )
                if not same:
                    errors.append(f"{label}: {key} {got[key]} != first op {want}")
        return errors

    # -- phases -----------------------------------------------------------

    def setup(self, setups: int) -> dict:
        """The cold start (JVM launch, first session, first input load),
        then ``setups`` timed session set-ups on the running JVM, then
        the cold first op, untimed.

        The cold op takes 3-4x a steady op in a fresh JVM and the next
        op about 1.2x; the median of the timed ops absorbs the latter.
        A second untimed op narrowed the run-to-run spread of op_p50_s
        from 12% to 3-6% over five seeds in a quiet period (4-core box),
        but in busy periods of the shared host the spread was 20-40%
        with or without it, and it costs a tenth of the run budget,
        which busy periods nearly exhaust."""
        cold = self.start_session()
        rounds = []
        for _ in range(setups):
            self.stop_session()
            rounds.append(self.start_session())
        first = self.run_op("cold")
        return {"cold": cold, "first_op_s": first["op_s"], "rounds": rounds}

    def timed_pass(self, n_ops: int) -> dict:
        probes = self.probes
        pid = os.getpid()
        gc0, cpu0 = probes.jvm_gc_s(self.spark), probes.tree_cpu(pid)
        t0 = time.perf_counter()
        first = len(self.ops)
        for i in range(n_ops):
            traced = self.trace and i % 2 == 1
            if traced:
                self.tracer.install()
            try:
                self.run_op("timed", traced=traced)
            finally:
                self.tracer.uninstall()
        pass_s = time.perf_counter() - t0
        cpu1, gc1 = probes.tree_cpu(pid), probes.jvm_gc_s(self.spark)
        return {
            "ops": self.ops[first:],
            "pass_s": pass_s,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "gc_s": gc1 - gc0,
            "peak_rss_mb": probes.tree_hwm_mb(pid),
        }


def _metrics(runner: Runner, setup: dict, passed: dict, trace: bool) -> dict:
    """The declared end-to-end (untraced run) or per-layer (traced run)
    metrics, each as ``{"value": ..., "unit": ...}``."""
    end_to_end, per_layer = _declared_metrics()
    ops = passed["ops"]
    plain = [o for o in ops if not o["traced"]]
    if not trace:
        values = {
            "setup_s": _median([r["setup_s"] for r in setup["rounds"]]),
            "op_p50_s": _median([o["op_s"] for o in plain]),
            "pass_s": passed["pass_s"],
            "pass_cpu_s": passed["cpu"]["total"],
        }
        return {k: {"value": values[k], "unit": u} for k, u in end_to_end.items()}

    traced = [o for o in ops if o["traced"]]
    counts = [o["counts"] for o in ops]
    values = {
        "registry.build_s": _median([o["build_s"] for o in plain]),
        "registry.execute_s": _median([o["execute_s"] for o in plain]),
        "spark.jobs_per_op": _median([c[0] for c in counts]),
        "spark.stages_per_op": _median([c[1] for c in counts]),
        "spark.tasks_per_op": _median([c[2] for c in counts]),
        "spark.count_mismatches": sum(1 for c in counts if c != counts[0]),
        "ipf.sweeps": _median(
            [sum(out.get("iterations", 0) for out in o.get("outputs", {}).values()) for o in ops]
        ),
        "sources.load_table.wall_s": _median([r["load_table_s"] for r in setup["rounds"]]),
        "checkpoint.pinned_rdds_after_op": _median([o["pinned_after"] for o in ops]),
        "process.peak_rss_mb": passed["peak_rss_mb"],
        "jvm.gc_s": passed["gc_s"],
        "cpu.driver_s": passed["cpu"]["driver"],
        "cpu.jvm_s": passed["cpu"]["jvm"],
        "cpu.pyworker_s": passed["cpu"]["pyworker"],
        "session.get_spark_s": _median([r["get_spark_s"] for r in setup["rounds"]]),
        "session.cold_start_s": setup["cold"]["setup_s"],
        "warmup.first_op_s": setup["first_op_s"],
        "trace.overhead_s": _median([o["op_s"] for o in traced])
        - _median([o["op_s"] for o in plain]),
    }
    per_op = [runner.tracer.per_op(o["index"]) for o in traced]
    values["trace.glue_s"] = _median([p["op"]["self_s"] for p in per_op if "op" in p])
    for name in per_layer:
        span, _, field = name.rpartition(".")
        if name not in values and field in SPAN_FIELDS:
            values[name] = _median([p.get(span, {}).get(field, 0.0) for p in per_op])
    return {k: {"value": values[k], "unit": u} for k, u in per_layer.items()}


def run(workload_name: str, seed: int, seconds: int, trace: bool, smoke: bool, work: str) -> dict:
    from workloads import WORKLOADS

    workload = WORKLOADS[workload_name]
    load_start = os.getloadavg()[0]
    data = os.path.join(work, "data", workload_name)
    marks = {"start": time.perf_counter() - T0}
    ref = _generate(0.001 if smoke else workload.sf, seed, data)
    marks["generated"] = time.perf_counter() - T0
    runner = Runner(workload, data, ref, trace)
    try:
        setup = runner.setup(1 if smoke else SETUPS)
        marks["set_up"] = time.perf_counter() - T0
        n_ops = 2 if smoke else max(MIN_OPS, round(seconds * workload.ops_per_second))
        passed = runner.timed_pass(n_ops)
        marks["passed"] = time.perf_counter() - T0
    finally:
        runner.stop_session()
    marks["stopped"] = time.perf_counter() - T0
    load = (load_start, os.getloadavg()[0])
    metrics = _metrics(runner, setup, passed, trace)
    ops = passed["ops"]
    failed = sum(1 for o in ops if o["errors"])
    earlier_failed = sum(1 for o in runner.ops if o["errors"]) - failed
    record = {
        "workload": workload_name,
        "seed": seed,
        "trace": trace,
        "load_start": load[0],
        "load_end": load[1],
        "setup": setup,
        "marks": marks,
        "metrics": metrics,
        "ops": runner.ops,
    }
    runner.tracer.dump(os.path.join(WORK, f"{workload_name}-{seed}-trace{int(trace)}.json"), record)
    shutil.rmtree(data, ignore_errors=True)
    print(
        f"[perfbench] {workload_name} seed={seed} trace={int(trace)}: "
        f"{len(ops)} timed ops, op_p50 over {sum(1 for o in ops if not o['traced'])}, "
        f"loadavg {load[0]:.2f} -> {load[1]:.2f}",
        file=sys.stderr,
    )
    return {
        "correct": failed == 0 and earlier_failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Closed-loop benchmark; see module doc.")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="all workloads at sf0.001")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if not args.smoke and args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(WORK, f"run-{os.getpid()}")
    _prepare_env(work)
    try:
        return _main(args, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for its JVM to exit (it exits
    when its stdin closes)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _main(args, work: str) -> int:
    from workloads import WORKLOADS

    if args.smoke:
        results = []
        for name in WORKLOADS:
            for trace in (False, True):
                res = run(name, args.seed, args.seconds, trace, True, work)
                results.append(res)
                for metric, m in res["metrics"].items():
                    print(f"{name:12s} {metric:48s} {m['value']:.6g} {m['unit']}")
        summary = {
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {},
        }
        print(json.dumps(summary))
        return 0
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), False, work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
