"""SparkSession factory with the engine's standard configs.

Sized for the sandbox (local[N], single JVM) but every knob is the one you'd
set on a real cluster: AQE on, Arrow on, shuffle partitions ≈ 2-3× cores.

This is the only place that sets the Arrow batch policy (SURVEY.md §4
vectorization row): each engine→Python batch closes as soon as it holds
256 records or 32 MB (Spark's default byte cap is 64 MB), so a batch
exceeds 32 MB by at most its last row. Spark measures each batch's real
bytes as it fills, so the cap holds on every path — ``run_extract``,
``ExtractionJob``, the streaming pass — whatever the payload sizes.

It also selects the Python worker daemon's entry module,
``worker_daemon``, which starts ``pyspark.daemon`` from the installed
pyspark's cached bytecode rather than from ``pyspark.zip``'s sources
(each new SparkContext starts a new daemon; ~1 s less per start). The
daemon is started from the JVM's working directory and ``PYTHONPATH``,
so the module is selected only where it can be imported at that moment:
when this process launches the JVM, with a ``local`` master, and the
package is in this process's working directory or on its ``PYTHONPATH``.
Under ``spark-submit --py-files`` the package reaches the workers only
at task time, after the daemon started, so the daemon stays Spark's own.
"""
from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
DAEMON_MODULE = "pdf_extractor_spark.worker_daemon"


def _own_daemon(master: str) -> bool:
    """Whether the workers can start their daemon from ``DAEMON_MODULE``:
    this process launches the JVM (under spark-submit it did not, and
    ``--py-files`` ships the package only at task time), the master is
    ``local``, and the package is importable from this process's working
    directory or ``PYTHONPATH``, which the JVM and its daemon inherit."""
    if ("PYSPARK_GATEWAY_PORT" in os.environ
            or not re.fullmatch(r"local(\[.*\])?", master)):
        return False
    module = DAEMON_MODULE.replace(".", os.sep) + ".py"
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(os.path.isfile(os.path.join(root, module)) for root in roots)


def get_spark(
    app_name: str = "pdf-extractor-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(2 * n, 8)
    builder = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # payload rows can be multi-MB: cap records AND bytes so the
        # JVM<->Python channel and kernel working set stay bounded. More
        # than 256 records measured neutral to slower on small pages
        # (BENCH.md "Arrow batch auto-tuning").
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(32 << 20))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Master resolution: forcing .master(local[...]) would OVERRIDE a
    # spark-submit --master and silently run the "cluster" job single-JVM
    # on the driver node. SPARK_GRAFT_MASTER=external (or --cluster on
    # job.py) defers to the submit-time master; any other value is used
    # verbatim; default is the local[] sandbox mode. driver.memory is a
    # pre-JVM setting, so it only applies on the in-process local path —
    # under spark-submit pass --driver-memory instead.
    master_env = os.environ.get("SPARK_GRAFT_MASTER")
    if master_env == "external":
        pass
    elif master_env:
        builder = builder.master(master_env)
    else:
        builder = builder.master(f"local[{cores}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    if _own_daemon(master_env or "local"):
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    return builder.getOrCreate()
