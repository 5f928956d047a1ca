"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Run it from the repository root.  Everything but the last line of
standard output goes to standard error.  With ``--trace 0`` the result
holds the end-to-end metrics; with ``--trace 1`` the per-layer metrics of
a separate traced run (Spark event log on, spans around each layer).  The
exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the whole run, set-up and checks included
# The window times at least this many operations, however long it runs, so
# that the median is over the same count on a fast host as on a slow one.
MIN_OPS = 3

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
]
LAYER_SPANS = [
    "bronze.pass",
    "bronze.flatten",
    "state.fixpoint",
    "state.resolve",
    "bronze.project",
    "sinks.append",
    "sinks.read_final",
    "silver.nep245",
    "silver.token_diff",
    "silver.transfers",
    "gold.intents_metrics",
    "validate.bronze",
]
ENGINE_UNITS = {
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "min_read_partitions": ("count", "higher"),
}
PER_LAYER = (
    [
        ("session.start_s", "s", "lower"),
        ("trace.setup_s", "s", "lower"),
        ("trace.op_p50_s", "s", "lower"),
        ("trace.layer_gap_s", "s", "lower"),
        ("bronze.jobs", "count", "lower"),
        ("bronze.rows_out", "rows", "higher"),
        ("state.fixpoint_jobs", "count", "lower"),
        ("state.mappings_rows", "rows", "lower"),
        ("sinks.appends", "count", "lower"),
        ("sinks.retries", "count", "lower"),
        ("sinks.files_written", "count", "lower"),
        ("sinks.bytes_written", "bytes", "lower"),
        ("sinks.files_scanned", "count", "lower"),
    ]
    + [(f"{s}_s", "s", "lower") for s in LAYER_SPANS]
    + [(f"{s}.{f}", *ENGINE_UNITS[f]) for s in LAYER_SPANS for f in ENGINE_UNITS]
)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def spark_env(work: str, trace: bool) -> None:
    """Launch settings for the engine's JVM."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{work}/eventlog",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY="3g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # every JVM, the launcher's too: temp files in the work dir, no
        # hsperfdata under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers it
    forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def layer_metrics(w, rec, eventlog_dir: str, extra: dict) -> dict:
    from spans import attribute, parse_event_log

    # Spark 4 writes a directory of rolled ``events_<n>_<app>`` files
    files = []
    for dirpath, _, names in os.walk(eventlog_dir):
        for f in names:
            if f.startswith("events_"):
                files.append((int(f.split("_")[1]), os.path.join(dirpath, f)))
    lines = []
    for _, path in sorted(files):
        with open(path) as fh:
            lines.extend(fh)
    jobs, stages = parse_event_log(lines)
    engine = attribute(rec.spans, jobs, stages)
    values = dict.fromkeys((n for n, _, _ in PER_LAYER), 0)
    values.update(extra)
    values.update(w.layers)
    for s, counts in zip(rec.spans, engine):  # one span per layer
        values[f"{s.name}_s"] = s.end - s.start
        values.update({f"{s.name}.{k}": v for k, v in counts.items()})
    values["bronze.jobs"] = values["bronze.flatten.jobs"] + values["bronze.project.jobs"]
    values["state.fixpoint_jobs"] = values["state.fixpoint.jobs"]
    if values["bronze.pass_s"]:
        # the forced layers against the program's own pass
        layered = sum(s.end - s.start for s in rec.spans if s.name != "bronze.pass")
        values["trace.layer_gap_s"] = layered - values["bronze.pass_s"]
    return values


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if importlib.util.find_spec("pyspark") is None or not os.path.isfile(
        os.path.join(ROOT, "rust_near_indexer_spark", "__init__.py")
    ):
        log(f"the program (rust_near_indexer_spark) or pyspark is missing under {ROOT}")
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS, prepare  # noqa: E402  (imports the program)

    if a.workload not in WORKLOADS:
        log(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    cls = WORKLOADS[a.workload]

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    gen = spark = None
    try:
        data = os.path.join(work, "data")
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(a.seed),
             "--blocks", str(cls.gen_blocks), "--out", data],
        )
        spark_env(work, bool(a.trace))
        from rust_near_indexer_spark import session

        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        session_s = time.perf_counter() - t0
        if gen.wait() != 0:
            raise RuntimeError(f"generator exited with {gen.returncode}")
        log(f"session up in {session_s:.1f} s")
        w = cls(spark, data, work, log)
        cold = w.setup()

        t_window = time.perf_counter()
        setup_s = t_window - T_START
        op_times, attempted, failed = [], 0, 0
        while attempted < MIN_OPS or time.perf_counter() - t_window < a.seconds:
            attempted += 1
            prepare(spark)
            t0 = time.perf_counter()
            try:
                ok = w.op()
            except Exception as e:  # counted, and the window goes on
                log(f"{a.workload}: operation raised {e!r}")
                ok = False
            op_times.append(time.perf_counter() - t0)
            failed += not ok
        log("window done")
        failed += w.check()
        failed = min(failed, attempted)

        op_p50 = statistics.median(op_times)
        log(f"{a.workload} seed {a.seed}: setup {setup_s:.2f} s, cold op {cold:.2f} s, "
            f"{attempted} ops {[round(t, 2) for t in op_times]}, failed {failed}")
        if a.trace:
            from spans import Recorder

            rec = Recorder()
            w.layer_pass(rec)
            stop_spark(spark)
            spark = None
            values = layer_metrics(
                w, rec, os.path.join(work, "eventlog"),
                {"session.start_s": session_s, "trace.setup_s": setup_s, "trace.op_p50_s": op_p50},
            )
            units = PER_LAYER
        else:
            values = {"setup_s": setup_s, "op_p50_s": op_p50}
            units = END_TO_END
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": values[n], "unit": u} for n, u, _ in units},
        }
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
