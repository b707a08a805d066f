"""Benchmark of the hive_io_experimental_spark library, one workload per run.

    python3 perfbench/run.py --workload table_io --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``,
starts one Spark session through the library's ``get_spark()`` defaults,
builds, warms up every operation type untimed, then runs the workload's
operation mix for ``--seconds`` seconds, checking every output. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of the traced run with ``--trace 1``.
A summary goes to standard error. All scratch files live under
``.perfbench_work/`` in the current directory and are removed at exit.
See perfbench/README.md for the workloads and metrics.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name, unit, better; reported on every workload
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("read_p50_s", "s", "lower"),
    ("probe_p50_s", "s", "lower"),
    ("write_p50_s", "s", "lower"),
    ("stored_bytes_ratio", "ratio", "lower"),
)

_OP = ("calls", "busy_s", "jobs", "stages", "tasks", "driver_s", "task_s",
       "python_task_s")
_SPARK = ("calls", "busy_s", "self_s", "jobs", "stages", "tasks", "driver_s",
          "task_s")
_INGEST = ("calls", "busy_s", "jobs", "stages", "tasks", "driver_s",
           "python_task_s")
# per-layer counters kept for each traced call: the ones an optimisation is
# most likely to move (the full set would exceed 128 metrics)
LAYER_COUNTERS = {
    "bench.read": _OP + ("gc_s", "shuffle_mb"),
    "bench.probe": _OP,
    "bench.write": _OP + ("shuffle_mb",),
    "session.get_spark": ("busy_s",),
    "catalog.add_partition": ("calls", "busy_s"),
    "catalog.drop_partition": ("calls", "busy_s"),
    "catalog.partition_exists": ("calls", "busy_s"),
    "catalog.commit_snapshot": ("calls", "busy_s"),
    "input.read_table": ("calls", "busy_s", "self_s", "jobs"),
    "output.write_table": ("calls", "busy_s", "self_s", "jobs", "tasks",
                           "driver_s", "files_written", "bytes_written"),
    "output.write_dynamic": ("calls", "busy_s", "jobs", "tasks",
                             "files_written", "bytes_written"),
    "analyze.analyze_table": _SPARK,
    "similarity.ivf_pq_build_index": _SPARK + ("python_task_s", "overlap_s"),
    "similarity.ivf_pq_query_index": _SPARK + ("python_task_s", "overlap_s"),
    "similarity.ivf_pq_append_to_index": _SPARK + ("python_task_s",
                                                   "overlap_s"),
    "ingestion.build_corpus_artifacts": _INGEST + ("task_s",),
    "ingestion.ingest_batch": _INGEST,
    "ingestion.ingest_batch_neardups": _INGEST,
    "ingestion.append_to_artifacts": _INGEST,
}
# single-valued per-layer metrics: name -> (unit, better)
LAYER_EXTRA = {
    "bench.trace_overhead_s": ("s", "lower"),
    "session.first_job_s": ("s", "lower"),
    "session.first_arrow_stage_s": ("s", "lower"),
    "catalog.json_bytes": ("bytes", "lower"),
    "similarity.recall_at_10": ("ratio", "higher"),
    "ingestion.survivor_ratio": ("ratio", "higher"),
    "ingestion.neardup_candidates": ("count/call", "higher"),
}


# timed operation roles every workload has (see workloads.py)
ROLES = ("read", "probe", "write")


def _counter_unit(counter: str) -> tuple[str, str]:
    if counter == "calls":
        return "count", "higher"
    if counter.endswith("_s"):
        return "s/call", "lower"
    if counter == "shuffle_mb":
        return "MB/call", "lower"
    if counter == "bytes_written":
        return "bytes/call", "lower"
    return "count/call", "lower"


def per_layer_spec() -> list[tuple[str, str, str]]:
    spec = [
        (f"{call}.{c}",) + _counter_unit(c)
        for call, counters in LAYER_COUNTERS.items() for c in counters
    ]
    spec += [(n,) + ub for n, ub in LAYER_EXTRA.items()]
    return spec


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("table_io", "ann_serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; tiny is for the smoke test")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="perturb one expected value; the checks must fail")
    return p.parse_args(argv)


def start_spark(work: str, trace: bool):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
        })
    # looked up on the module so the tracer's wrapper sees the call
    from hive_io_experimental_spark import session

    return session.get_spark("perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Runs operations, times them, and checks their outputs."""

    def __init__(self, tracer=None) -> None:
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0

    def run(self, role: str, op, record: bool) -> None:
        from workloads import WrongOutput

        self.attempted += 1
        span = self.tracer.begin(f"bench.{role}") if self.tracer else None
        t = time.perf_counter()
        try:
            try:
                verify = op()
            finally:
                dt = time.perf_counter() - t
                if span is not None:
                    self.tracer.finish(span)
            verify()
        except WrongOutput as exc:
            self.failed += 1
            print(f"perfbench: wrong output in {role}: {exc}", file=sys.stderr)
            return
        except Exception:
            self.failed += 1
            print(f"perfbench: {role} raised:", file=sys.stderr)
            traceback.print_exc()
            return
        if record:
            self.samples.setdefault(role, []).append(dt)

    def finished(self, deadline: float) -> bool:
        """Past the deadline with at least one sample of every role."""
        return time.perf_counter() >= deadline and all(
            self.samples.get(r) for r in ROLES
        )


def run(args, work: str) -> dict:
    sys.path.insert(0, HERE)
    from workloads import SIZES, WORKLOADS

    tracer = None
    if args.trace:
        from tracer import Tracer

        tracer = Tracer()
        tracer.install()
    phases = {}
    spark = start_spark(work, bool(args.trace))
    phases["session"] = time.perf_counter() - T_START
    try:
        wl = WORKLOADS[args.workload](
            spark, work, args.seed, SIZES[args.size], args.corrupt_expected
        )
        runner = Runner(tracer)
        build_s = wl.setup()
        phases["inputs_and_build"] = time.perf_counter() - T_START
        # untimed warm-up: every operation type at least once
        for role, op in wl.cycle(0):
            runner.run(role, op, record=False)
        # stored bytes after a fixed amount of work, not after however
        # many steps the timed phase fits
        stored, user_bytes = wl.stored_bytes(), wl.user_bytes
        setup_s = time.perf_counter() - T_START
        deadline = time.perf_counter() + args.seconds
        i = 1
        while not (runner.failed or runner.finished(deadline)):
            for role, op in wl.cycle(i):
                runner.run(role, op, record=True)
                if runner.failed or runner.finished(deadline):
                    break
            i += 1
        measured_s = time.perf_counter() - deadline + args.seconds
        catalog_json = os.path.join(work, "warehouse", "_catalog.json")
        extra = {"catalog.json_bytes": (
            os.path.getsize(catalog_json) if os.path.exists(catalog_json) else 0
        )}
    finally:
        stop_spark(spark)
        if tracer is not None:
            tracer.uninstall()

    correct = (runner.failed == 0 and wl.quality_ok()
               and all(runner.samples.get(r) for r in ROLES))
    s = runner.samples
    summary = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "input_rows": wl.input_rows, "input_bytes": user_bytes,
        "stored_bytes": stored, "measured_s": round(measured_s, 3),
        "setup_phases_s": {k: round(v, 2) for k, v in phases.items()},
        "build_s": round(build_s, 3),
        "samples": {r: len(v) for r, v in s.items()},
        "p50_s": {r: round(statistics.median(v), 4) for r, v in s.items()},
        "samples_s": {r: [round(x, 3) for x in v] for r, v in s.items()},
    }
    if hasattr(wl, "recall"):
        summary["recall_at_10"] = round(wl.recall, 4)
    print("perfbench: " + json.dumps(summary), file=sys.stderr)
    if not correct:
        metrics = {}
    elif not args.trace:
        values = {
            "setup_s": setup_s,
            "read_p50_s": statistics.median(s["read"]),
            "probe_p50_s": statistics.median(s["probe"]),
            "write_p50_s": statistics.median(s["write"]),
            "stored_bytes_ratio": stored / user_bytes,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u, _ in END_TO_END}
    else:
        metrics = traced_metrics(tracer, work, wl, extra)
    return {"correct": correct, "attempted": runner.attempted,
            "failed": runner.failed, "metrics": metrics}


def traced_metrics(tracer, work: str, wl, extra: dict) -> dict:
    from tracer import per_call, read_event_log

    work_by_span, firsts = read_event_log(os.path.join(work, "events"))
    calls = per_call(tracer, work_by_span)
    values = {}
    for call, counters in LAYER_COUNTERS.items():
        row = calls.get(call, {})
        for c in counters:
            values[f"{call}.{c}"] = row.get(c, 0)
    values.update(extra)
    values.update(firsts)
    values["bench.trace_overhead_s"] = tracer.overhead_s
    values["similarity.recall_at_10"] = getattr(wl, "recall", 0.0)
    ingest = getattr(wl, "ingest", None)
    counts = ingest.survivor_counts if ingest else []
    values["ingestion.survivor_ratio"] = (
        sum(a for a, _ in counts) / sum(b for _, b in counts) if counts else 0.0
    )
    cands = ingest.candidates if ingest else []
    values["ingestion.neardup_candidates"] = (
        statistics.mean(cands) if cands else 0.0
    )
    return {n: {"value": values[n], "unit": u} for n, u, _ in per_layer_spec()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import hive_io_experimental_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the library from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
