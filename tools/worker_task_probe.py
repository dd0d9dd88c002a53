"""Per-task CPU of the Python workers, measured inside the worker.

    python tools/worker_task_probe.py [--soak-tasks N]

Spark's event log times a Python task up to ``report_times``; what a
reused worker spends after that is invisible to it, and so is the work
``pyspark.daemon`` does between two tasks (a full ``gc.collect()`` after
every task). This tool starts a ``local[4]`` session (``session.get_spark``)
whose Python workers run a wrapper of ``pyspark.worker.main``
(``spark.python.worker.module``; the daemon only loads a module whose
name starts with ``pyspark``, so the wrapper is written as
``pyspark_task_probe.py`` to a temp dir put on ``PYTHONPATH`` before the
JVM starts). For every task the wrapper appends one record to a log:

* ``task_ms``: process CPU spent inside ``worker.main``;
* ``between_ms``: process CPU the worker spent from the end of its
  previous task to the start of this one (the daemon's collect and its
  loop; idle waiting costs none). It is charged to the previous task's
  phase, whose heap that collect walked;
* ``tracked``: tracked objects the collect after this task will walk
  (``len(gc.get_objects())``, frozen objects excluded);
* ``frozen``: ``gc.get_freeze_count()``; ``rss_mb``: the worker's VmRSS;
  ``daemon_rss_mb``: the VmRSS of its parent, the ``pyspark.daemon``
  that forked it;
* ``pandas``: whether ``pandas`` is in the worker's ``sys.modules`` (the
  extraction kernel never needs it; pyarrow's ``pa.array`` and
  ``RecordBatch.from_pylist`` import it as a side effect);
* ``pyspark``: where the worker's ``pyspark`` came from: ``archive``
  (Spark's ``pyspark.zip``, compiled from source by the daemon) or
  ``installed`` (see ``pdf_extractor_spark/worker_daemon.py``).

Phases, on seed 302's 8,000-doc crawl table (``corpus.generate_chunk``,
the pages ``crawl_extract`` times in ``perfbench``), each run 3 times and
sunk to ``noop``, after one untimed warm-up extraction pass:

* ``identity``: the L2 rung: ``eligible_pages`` + ``salted_repartition``
  + an identity ``mapInArrow``;
* ``extract``: ``run_extract`` (the L3 rung);
* ``soak`` (``--soak-tasks N``): ``run_extract`` over the first 1024
  docs in 64 partitions until N tasks have run; reports each worker's
  RSS and frozen-object count over the first and the last tenth of its
  tasks;
* ``spawn``: 3 times, a new SparkContext in the running JVM (so a new
  daemon, as in each ``perfbench`` set-up), then one tiny Python job of
  4 tasks twice. The first job minus the second is the worker-start
  layer: daemon start, its imports and the first fork of each worker.
  ``perfbench``'s ``python.worker_start_s`` does not see it: it sums the
  timed passes, whose workers are already running.

Human-readable lines first; the last line is one JSON object.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DOCS = 8000
SEED = 302
PASSES = 3
CORES = 4
PARTITIONS = 2 * CORES
SALT = 1
SOAK_DOCS = 1024
SOAK_PARTITIONS = 64
SPAWN_ROUNDS = 3
WRAPPER = "pyspark_task_probe"

_WRAPPER_SRC = '''"""Wrapper of pyspark.worker.main that logs per-task CPU and heap
size (written by tools/worker_task_probe.py)."""
import gc
import json
import os
import sys
import time

import pyspark
from pyspark import worker as _worker

_LOG = os.environ["WORKER_TASK_PROBE_LOG"]
_PHASE = os.environ["WORKER_TASK_PROBE_PHASE"]
_prev = None  # (process CPU at the end of the last task, its phase)


_ORIGIN = "installed" if os.path.isfile(pyspark.__file__) else "archive"


def _rss_mb(pid="self"):
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(infile, outfile):
    global _prev
    t0 = time.process_time()
    try:
        _worker.main(infile, outfile)
    finally:
        t1 = time.process_time()
        with open(_PHASE) as fh:
            phase = fh.read()
        rec = {"pid": os.getpid(), "phase": phase,
               "task_ms": 1000.0 * (t1 - t0),
               "tracked": len(gc.get_objects()),
               "frozen": gc.get_freeze_count(), "rss_mb": _rss_mb(),
               "daemon_rss_mb": _rss_mb(os.getppid()),
               "pandas": "pandas" in sys.modules, "pyspark": _ORIGIN}
        if _prev is not None:
            rec["between_ms"] = 1000.0 * (t0 - _prev[0])
            rec["between_phase"] = _prev[1]
        with open(_LOG, "a") as fh:
            fh.write(json.dumps(rec) + "\\n")
        _prev = (time.process_time(), phase)
'''


def log(msg: str) -> None:
    print(msg, flush=True)


def set_phase(tmp: str, phase: str) -> None:
    """Name the phase the workers log their next tasks under (phases run
    one Spark job at a time, so a task reads the phase of its job)."""
    with open(os.path.join(tmp, "phase"), "w") as fh:
        fh.write(phase)


def new_session():
    from pdf_extractor_spark.session import get_spark

    spark = get_spark(app_name="worker-task-probe", cores=CORES,
                      shuffle_partitions=PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def start(tmp: str, log_path: str):
    """Write the wrapper and start the session; must run before any JVM."""
    with open(os.path.join(tmp, WRAPPER + ".py"), "w") as fh:
        fh.write(_WRAPPER_SRC)
    set_phase(tmp, "setup")
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [tmp, ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "WORKER_TASK_PROBE_LOG": log_path,
        "WORKER_TASK_PROBE_PHASE": os.path.join(tmp, "phase"),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.python.worker.module={WRAPPER} pyspark-shell"),
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return new_session()


def write_table(spark, path: str, docs: int, seed: int) -> None:
    from pdf_extractor_spark import corpus
    from pdf_extractor_spark.session import PAGES_DDL
    from pdf_extractor_spark.sources.io import write_pages

    chunks = 8  # perfbench's crawl chunking: a seed gives the same pages
    rows = []
    for c in range(chunks):
        n = docs // chunks + (1 if c < docs % chunks else 0)
        rows += [(d.url, d.warc_ts, d.html, d.text, d.lang)
                 for d in corpus.generate_chunk(c, n, seed)]
    write_pages(spark.createDataFrame(rows, PAGES_DDL).repartition(chunks),
                path)


def identity_plan(spark, path: str):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators import extract as X
    from pdf_extractor_spark.sources.io import read_pages

    df = X.salted_repartition(X.eligible_pages(read_pages(spark, path)),
                              PARTITIONS, SALT)
    df = df.withColumn("partition_id", F.spark_partition_id())

    def identity(batches):
        yield from batches

    return df.mapInArrow(identity, df.schema)


def extract_plan(spark, path: str, limit: int | None = None,
                 partitions: int = PARTITIONS):
    from pdf_extractor_spark.operators.extract import run_extract
    from pdf_extractor_spark.sources.io import read_pages

    df = read_pages(spark, path)
    if limit is not None:
        df = df.limit(limit)
    return run_extract(df, num_partitions=partitions, salt=SALT)


def run_phase(tmp: str, phase: str, df, passes: int) -> None:
    set_phase(tmp, phase)
    for _ in range(passes):
        df.write.format("noop").mode("overwrite").save()


def spawn_phase(tmp: str, spark):
    """-> (the last session, first minus second tiny-job seconds per
    fresh SparkContext)."""
    set_phase(tmp, "spawn")
    deltas = []
    for _ in range(SPAWN_ROUNDS):
        spark.stop()
        spark = new_session()
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            spark.sparkContext.parallelize(range(CORES), CORES).count()
            times.append(time.perf_counter() - t0)
        deltas.append(times[0] - times[1])
    return spark, deltas


def read_log(log_path: str) -> list[dict]:
    with open(log_path) as fh:
        return [json.loads(line) for line in fh]


def summarize(recs: list[dict], phase: str) -> dict:
    tasks = [r for r in recs if r["phase"] == phase]
    between = [r["between_ms"] for r in recs
               if r.get("between_phase") == phase]
    if not tasks:
        return {}
    return {
        "tasks": len(tasks),
        "task_ms_sum": sum(r["task_ms"] for r in tasks),
        "task_ms_p50": statistics.median(r["task_ms"] for r in tasks),
        "between_ms_sum": sum(between),
        "between_ms_p50": statistics.median(between) if between else None,
        "tracked_p50": statistics.median(r["tracked"] for r in tasks),
        "frozen_p50": statistics.median(r["frozen"] for r in tasks),
        "rss_mb_p50": statistics.median(r["rss_mb"] for r in tasks),
        "daemon_rss_mb_p50": statistics.median(r["daemon_rss_mb"]
                                               for r in tasks),
        "pandas_tasks": sum(r["pandas"] for r in tasks),
        "archive_tasks": sum(r["pyspark"] == "archive" for r in tasks),
    }


def soak_summary(recs: list[dict]) -> dict:
    """Per worker: median RSS and frozen count over its first and its
    last tenth of soak tasks."""
    by_pid: dict[int, list[dict]] = {}
    for r in recs:
        if r["phase"] == "soak":
            by_pid.setdefault(r["pid"], []).append(r)
    out = {}
    for pid, rs in sorted(by_pid.items()):
        k = max(len(rs) // 10, 1)
        first, last = rs[:k], rs[-k:]
        out[str(pid)] = {
            "tasks": len(rs),
            "rss_mb": [statistics.median(r["rss_mb"] for r in first),
                       statistics.median(r["rss_mb"] for r in last)],
            "frozen": [statistics.median(r["frozen"] for r in first),
                       statistics.median(r["frozen"] for r in last)],
            "tracked": [statistics.median(r["tracked"] for r in first),
                        statistics.median(r["tracked"] for r in last)],
        }
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--soak-tasks", type=int, default=0)
    args = ap.parse_args(argv)

    tmp = tempfile.mkdtemp(prefix="worker_task_probe.")
    log_path = os.path.join(tmp, "tasks.jsonl")
    spark = start(tmp, log_path)
    try:
        table = os.path.join(tmp, "pages")
        write_table(spark, table, DOCS, SEED)
        run_phase(tmp, "warmup", extract_plan(spark, table), 1)
        run_phase(tmp, "identity", identity_plan(spark, table), PASSES)
        run_phase(tmp, "extract", extract_plan(spark, table), PASSES)
        if args.soak_tasks:
            soak = extract_plan(spark, table, SOAK_DOCS, SOAK_PARTITIONS)
            run_phase(tmp, "soak", soak,
                      -(-args.soak_tasks // SOAK_PARTITIONS))
        # the collect after each phase's last task is logged at the next
        # task of that worker: one more tiny job reaches every worker
        run_phase(tmp, "tail", extract_plan(spark, table, 64), 2)
        spark, spawn = spawn_phase(tmp, spark)
        recs = read_log(log_path)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)

    result = {"docs": DOCS, "seed": SEED, "passes": PASSES,
              "workers": len({r["pid"] for r in recs}), "phases": {}}
    log(f"{'phase':<9} {'tasks':>5} {'task ms':>9} {'between ms':>10} "
        f"{'sum task':>9} {'sum betw.':>9} {'tracked':>8} {'frozen':>7} "
        f"{'rss MB':>7} {'daemon MB':>9} {'pandas':>6} {'archive':>7}")
    for phase in ("identity", "extract", "soak", "spawn"):
        s = summarize(recs, phase)
        if not s:
            continue
        result["phases"][phase] = s
        bw = s["between_ms_p50"]
        log(f"{phase:<9} {s['tasks']:>5} {s['task_ms_p50']:>9.1f} "
            f"{bw if bw is not None else float('nan'):>10.1f} "
            f"{s['task_ms_sum'] / 1e3:>8.2f}s {s['between_ms_sum'] / 1e3:>8.2f}s "
            f"{s['tracked_p50']:>8.0f} {s['frozen_p50']:>7.0f} "
            f"{s['rss_mb_p50']:>7.1f} {s['daemon_rss_mb_p50']:>9.1f} "
            f"{s['pandas_tasks']:>6} {s['archive_tasks']:>7}")
    result["spawn_s"] = spawn
    log(f"spawn: first minus second tiny job in a fresh SparkContext: "
        f"median {statistics.median(spawn):.3f} s "
        f"({', '.join(f'{d:.3f}' for d in spawn)})")
    if args.soak_tasks:
        result["soak"] = soak_summary(recs)
        for pid, s in result["soak"].items():
            log(f"soak worker {pid}: {s['tasks']} tasks, rss "
                f"{s['rss_mb'][0]:.1f} -> {s['rss_mb'][1]:.1f} MB, frozen "
                f"{s['frozen'][0]:.0f} -> {s['frozen'][1]:.0f}, tracked "
                f"{s['tracked'][0]:.0f} -> {s['tracked'][1]:.0f}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
