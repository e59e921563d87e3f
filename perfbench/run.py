#!/usr/bin/env python3
"""Seeded end-to-end benchmark of chroma_rs_spark.

Run from the repository root, one fresh process per run:

    python3 perfbench/run.py --workload vector_batch --seed 1 --seconds 25 --trace 0

Workloads (see workloads.py): ``vector_batch`` (ivfpq index build, then
rounds of exact query, ivfpq query, upsert and delete) and
``curate_batch`` (the curation pipeline, once cold, then warm). Inputs
are generated from ``--seed``; the engine receives only the generated
parquet files. Spark runs on ``local[<usable cores>]``.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (setup_s, warm_s); with
``--trace 1`` they are the per-layer ones of ``layers.json``, read from
spans around every call into a layer, and a per-layer table is printed
before the last line. ``--tiny`` shrinks the inputs for smoke tests.

The run writes only under ``.perfbench_work/`` in the repository root,
and removes its own inputs there before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
DEADLINE_S = 170  # a run must exit within 180 s
END_TO_END = ("setup_s", "warm_s")


def per_layer_names(spec: dict) -> list[str]:
    names: list[str] = []
    for layer in spec["layers"]:
        names.extend(layer.get("metrics", []))
        for span in layer.get("spans", []):
            names.extend([f"{span}_s", f"{span}.jobs", f"{span}.stages", f"{span}.tasks"])
    return names


def load_spec() -> dict:
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)


def pin_environment(work: str) -> int:
    """Fix what the engine reads from the environment, so runs on
    either side of a cache expiry or on another shell agree."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python UDF workers import chroma_rs_spark from the repo root
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    for knob in ("SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_GRAFT_STREAM_STATE_PARTITIONS"):
        os.environ.pop(knob, None)
    for d in ("scratch", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return cpus


def dispatch_floor_ms(spark) -> float:
    """Median wall of a one-stage noop job, measured as bench.py does."""
    df = spark.range(32).repartition(32)
    df.write.format("noop").mode("overwrite").save()
    reps = []
    for _ in range(11):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        reps.append(time.perf_counter() - t0)
    return statistics.median(reps) * 1000.0


def _timeout(_signum, _frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "chroma_rs_spark", "__init__.py")):
        print(
            f"perfbench: no chroma_rs_spark package under {ROOT}; "
            "run from a full checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from spans import Tracer
    from workloads import FULL, TINY, WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    spec = load_spec()
    run_id = uuid.uuid4().hex[:12]
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{run_id}")
    cpus = pin_environment(work)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)

    tracer = Tracer(run_id)
    spark = None
    try:
        with tracer.span("session.start"):
            from chroma_rs_spark.session import get_spark

            spark = get_spark(
                app_name="perfbench",
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_START
        if args.trace:
            tracer.attach(spark)
        run = Run(
            spark=spark,
            tracer=tracer,
            work=work,
            seed=args.seed,
            seconds=args.seconds,
            sizes=TINY if args.tiny else FULL,
            recall_floor=float(spec["recall_at_10_floor"]),
        )

        setups = []
        for rep in range(SETUP_REPS):
            data_dir = os.path.join(work, f"data{rep}")
            t0 = time.perf_counter()
            state = workload.setup(run, data_dir)
            setups.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(setups)
        reference = workload.reference(run, data_dir, state)
        warm = workload.run(run, state, reference)

        if args.trace:
            timed = run.timed_s
            top = sum(
                tracer.top_level_seconds(a, b) for a, b in run.intervals
            )
            layer = tracer.layer_metrics(sorted({s.name for s in tracer.spans}))
            names = per_layer_names(spec)
            metrics = {n: (layer.get(n, 0.0), _unit(n)) for n in names}
            for phase in ("build", "query", "mutate", "curate_cold", "curate_warm"):
                for key, value in tracer.phase_jvm(phase).items():
                    metrics[f"jvm.{phase}.{key}"] = (value, "s")
            metrics["spark.dispatch_floor_ms"] = (dispatch_floor_ms(spark), "ms")
            metrics["trace.overhead_s"] = (tracer.overhead_s, "s")
            metrics["unattributed_s"] = (timed - top, "s")
            print(f"per-layer table ({args.workload}, seed {args.seed}, run {run_id}):")
            for line in tracer.table():
                print("  " + line)
            print(f"  timed wall {timed:.3f} s, top-level spans {top:.3f} s, "
                  f"unattributed {timed - top:.3f} s, tracing overhead "
                  f"{tracer.overhead_s:.3f} s")
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "warm_s": (statistics.median(warm), "s"),
            }
        for name, (value, unit) in sorted(run.detail.items()):
            print(f"detail {name} {value:.6g} {unit}")
        print(f"detail ops_attempted {run.attempted} count")
        print(f"detail ops_failed {run.failed} count")
        print(f"detail warm_samples {len(warm)} count")
        for what in run.failures:
            print(f"FAILED: {what}", file=sys.stderr)
        print("env " + json.dumps({
            "workload": args.workload,
            "seed": args.seed,
            "nproc": cpus,
            "master": spark.sparkContext.master,
            "pyspark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "tiny": args.tiny,
        }))
        spans_dir = os.path.join(work_root, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(
            spans_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}.json"
        )
        with open(spans_path, "w") as f:
            json.dump({**tracer.dump(), "outputs": run.outputs}, f)
        print(f"spans {spans_path}")
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    return "count"


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it forked) to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    raise SystemExit(main())
