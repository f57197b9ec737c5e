"""spark-graft benchmark: one command, one workload per invocation.

    python3 graftbench/run.py --workload store_lifecycle --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. It generates its inputs from
``--seed`` under ``.graftbench/`` in the checkout, starts the engine's
own session (``session.get_spark``) on ``local[nproc]``, runs untimed
set-up and a warm-up round, then runs whole rounds of the workload
until ``--seconds`` have been measured, and checks every op's output
outside the timed window. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs an untraced, a
traced and another untraced round plus the per-layer probes
(``layers.py``) and reports the per-layer metrics. See README.md for
the metric glossary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# leave no __pycache__ in the benchmark's directory
sys.dont_write_bytecode = True

#: documents per workload. The ops are bound by per-job overhead (a
#: lifecycle round takes 19 s at 200 documents, 32 s at 500); these sizes
#: keep a run near the per-run time README.md's run budget allows
N_DOCS = {"store_lifecycle": 200, "thrift_roundtrip": 300}
#: input generation is repeated this many times and its median counted
#: in setup_s
SETUP_REPEATS = 3


class Ctx:
    """What one benchmark process shares with the workloads and probes."""

    def __init__(self, args, root: str):
        self.seed = args.seed
        self.root = root
        self.work = os.path.join(root, ".graftbench", f"p{os.getpid()}")
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None


def configure_env(ctx: Ctx) -> None:
    """Keep every file the engine writes inside the checkout: a
    PID-tagged scratch directory for temp files, Spark local dirs and
    the JVM's tmpdir; workers import the engine from the checkout."""
    tmp = os.path.join(ctx.work, "tmp")
    local = os.path.join(ctx.work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ctx.root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(ctx.work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def start_session(ctx: Ctx) -> float:
    import logging

    from curatorhadoopinterface_spark.session import get_spark

    t0 = time.perf_counter()
    ctx.spark = get_spark("graftbench")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    logging.getLogger("py4j").setLevel(logging.ERROR)
    return time.perf_counter() - t0


def stop_session(ctx: Ctx) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    ctx.spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    ctx.spark = None


class Rounds:
    """Times each op of each round (wall and process-tree CPU) under its
    own job group, outside of which the output checks run. An op that
    raises is recorded as a failure of that op and the round goes on."""

    def __init__(self, tree, counters):
        self.tree, self.counters = tree, counters
        self.rounds: list[dict] = []
        self.failures: list[str] = []
        self.n_run = 0

    def run(self, wl, tracer=None, check: bool = True, warmup: bool = False) -> dict:
        from measure import Tracer

        tracer = tracer or Tracer(None)
        ops: list[dict] = []
        raised: list[str] = []
        self.n_run += 1
        n = self.n_run

        @contextmanager
        def op(name: str):
            group = f"r{n}-{name}"
            with tracer.span(name) as span:
                if tracer.counters is None:
                    self.counters.set_group(group)
                else:
                    group = span["group"]
                cpu0 = self.tree.cpu_s()
                t0 = time.perf_counter()
                try:
                    yield
                except Exception as exc:  # an op that raises counts as failed
                    traceback.print_exc()
                    raised.append(f"{name}: raised {type(exc).__name__}: {exc}"[:300])
                sec = time.perf_counter() - t0
                cpu1 = self.tree.cpu_s()
            cpu = {k: cpu1[k] - cpu0.get(k, 0.0) for k in cpu1}
            ops.append({"name": name, "s": sec, "cpu_s": sum(cpu.values()), "cpu": cpu, "group": group})
            self.counters.set_group(f"r{n}-between")

        t_round = time.perf_counter()
        fails = wl.run_round(op, check, warmup)
        fails = raised + fails
        t_round = time.perf_counter() - t_round
        out_bytes = sum(self.counters.read(o["group"])["output_bytes"] for o in ops)
        rec = {
            "ops": ops,
            "wall_s": sum(o["s"] for o in ops),
            "cpu_s": sum(o["cpu_s"] for o in ops),
            "written_bytes": wl.written_bytes(out_bytes),
            "failures": fails,
            "checks_s": t_round - sum(o["s"] for o in ops),
        }
        if check:
            self.rounds.append(rec)
            self.failures.extend(fails)
        return rec


def run(args, ctx: Ctx, tree) -> dict:
    """Set up, warm up, measure and check one workload; returns the raw
    record the metrics are computed from."""
    from measure import SparkCounters, Tracer
    from workloads import WORKLOADS

    session_s = start_session(ctx)
    counters = SparkCounters(ctx.spark)
    wl = WORKLOADS[args.workload](ctx, args.docs or N_DOCS[args.workload])

    gen_s = []
    for i in range(SETUP_REPEATS):
        dest = os.path.join(ctx.work, f"data{i}")
        t0 = time.perf_counter()
        wl.make_inputs(dest)
        gen_s.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(dest)
    wl.setup(os.path.join(ctx.work, "data0"))

    rounds = Rounds(tree, counters)
    warmup = rounds.run(wl, check=False, warmup=True)
    setup_s = session_s + statistics.median(gen_s) + sum(o["s"] for o in warmup["ops"])

    out: dict = {
        "setup_s": setup_s,
        "setup": {"session_s": session_s, "gen_s": gen_s, "warmup_ops": warmup["ops"]},
    }
    if not args.trace:
        t_start = time.perf_counter()
        while not rounds.rounds or time.perf_counter() - t_start < args.seconds:
            rounds.run(wl)
    else:
        import layers

        # untraced, traced, untraced: the JIT is still warming, so the
        # traced round is compared with the mean of the rounds around it
        before = rounds.run(wl)
        tracer = Tracer(counters)
        traced = rounds.run(wl, tracer=tracer, check=False)
        after = rounds.run(wl, check=False)
        probes = layers.probe(ctx, wl, counters, tracer, session_s)
        spark = tracer.totals(set(wl.PHASES))
        spark["core_util"] = spark["task_run_s"] / (traced["wall_s"] * ctx.cores)
        metrics = probes["metrics"]
        metrics.update({f"spark.{k}": spark[k] for k in layers.PER_LAYER_SPARK})
        metrics["trace.overhead_s"] = traced["wall_s"] - (before["wall_s"] + after["wall_s"]) / 2
        out["layers"] = {
            "metrics": {
                k: {"value": metrics[k], "unit": u} for k, u in layers.PER_LAYER.items()
            },
            "checks": probes["checks"],
            "failed": len({f.split(":")[0] for f in probes["failures"]}),
        }
        rounds.failures += probes["failures"]
        out["spans"] = tracer.spans
        out["traced_round"] = traced
    out["rounds"] = rounds.rounds
    out["failures"] = rounds.failures
    out["input_bytes"] = wl.input_bytes
    out["known_failing"] = wl.known_failing()
    return out


END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_pss_mb": "MB",
    "written_bytes_per_input_byte": "B/B",
}


def end_to_end(raw: dict, peak_mb: float) -> dict:
    rs = raw["rounds"]
    values = {
        "setup_s": raw["setup_s"],
        "wall_s": statistics.median(r["wall_s"] for r in rs),
        "cpu_s": statistics.median(r["cpu_s"] for r in rs),
        "peak_pss_mb": peak_mb,
        "written_bytes_per_input_byte": statistics.median(r["written_bytes"] for r in rs)
        / raw["input_bytes"],
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(N_DOCS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None, help="corpus size (self-test only)")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "curatorhadoopinterface_spark", "session.py")):
        print("graftbench: run from the root of a spark-graft checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    ctx = Ctx(args, root)
    configure_env(ctx)

    from measure import ProcTree, MemSampler

    tree = ProcTree()
    sampler = MemSampler(tree).start()
    try:
        raw = run(args, ctx, tree)
    finally:
        sampler.stop()
        stop_session(ctx)
        shutil.rmtree(ctx.work, ignore_errors=True)

    attempted = sum(len(r["ops"]) for r in raw["rounds"]) + raw.get("layers", {}).get("checks", 0)
    # an op fails once however many of its checks fail
    failed = sum(len({f.split(":")[0] for f in r["failures"]}) for r in raw["rounds"])
    failed += raw.get("layers", {}).get("failed", 0)
    if args.trace:
        metrics = raw["layers"]["metrics"]
        trace_dir = os.path.join(root, ".graftbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump(raw, fh, indent=1, default=str)
    else:
        metrics = end_to_end(raw, sampler.peak_mb)
    detail = {
        "workload": args.workload,
        "rounds": [
            {
                **{o["name"]: o["s"] for o in r["ops"]},
                "checks_s": r["checks_s"],
                "cpu": {o["name"]: o["cpu"] for o in r["ops"]},
            }
            for r in raw["rounds"]
        ],
        "setup": raw["setup"],
        "known_failing": raw.get("known_failing", {}),
        "failures": raw["failures"][:20],
    }
    print(json.dumps(detail, default=lambda v: round(v, 4) if isinstance(v, float) else str(v)))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
