"""SparkSession factory tuned for the extraction workload.

Local testing runs on local[N]; the same config block is what we'd ship to a
1000-executor cluster via spark-submit (AQE on for runtime re-planning and
skew-join splitting, Arrow on for all pandas-UDF exchange, shuffle partitions
sized ~2-4x total cores — SURVEY.md §4).

The Python workers find this package through ``PYTHONPATH``: ``get_spark``
puts the package root (a directory, or the zip that ``--py-files``
shipped) on the ``PYTHONPATH`` the JVM hands its workers
(``spark.executorEnv.PYTHONPATH``), so a script that found the package
only through ``sys.path`` still runs every kernel, and the worker daemon
below starts.

Cold start. When ``get_spark`` launches the driver JVM, it starts it from a
dynamic class-data-sharing archive (JEP 350) of the classes an earlier
session loaded:

* Rule. If an archive exists for the current key, the JVM maps it
  (``-XX:SharedArchiveFile``). If not, and no live process is recording
  one, the JVM records it at exit (``-XX:ArchiveClassesAtExit``) to a
  per-pid temporary file, created empty beforehand so other processes see
  the recording. An ``atexit`` hook stops the JVM, waits for it, and
  publishes the file with ``os.replace`` once the JVM has exited cleanly
  and written the header (its last write). A truncated file is thus never
  mapped: a truncated archive crashes the JVM (SIGBUS) rather than being
  refused. After a mapping launch the JVM's memory map must show the
  archive; if the JVM refused it, the archive is removed with a warning
  and the next session records a new one.
* Classpath. JDK 17 will not record with a non-empty directory on the
  classpath and refuses an archive whose classpath differs, and the first
  classpath entry is ``SPARK_CONF_DIR`` (default ``$SPARK_HOME/conf``). When
  that directory holds nothing but ``*.template`` files, both the recording
  and the mapping JVM run with ``SPARK_CONF_DIR`` pointed at an empty
  directory the cache owns, which gives the same effective configuration.
  When it holds anything else, or another variable adds to the classpath,
  no archive is used.
* Key. The JDK build (the resolved ``java`` and its ``release`` file) and
  the name, size and mtime of every jar in the resolved ``$SPARK_HOME/jars``.
* Location. ``${XDG_CACHE_HOME:-~/.cache}/pdf_parse_bench_spark/cds/``,
  outside the checkout, so the 160-195 MB archive is built once per JDK and
  Spark install. Archives of other keys and temporary files of dead pids are
  removed, so the cache holds one archive.

Measured with perfbench (``md_extract``, seed 1, 4 vCPUs, JDK 17.0.20,
Spark 4.1.2, 2g heap), 10 alternating pairs: ``setup_s`` median 17.6 s
without the archive, 10.5 s with it; in a traced pair the JVM start went
9.7 -> 3.8 s and the first Python job 8.6 -> 4.9 s. Peak resident memory
rose about 10% (1506 -> 1656 MB median): the archive's pages are resident.
JDK 17.0.20 relocates the mapped archive at start
(``ArchiveRelocationMode=1``), which copies about 90 MB of it into anonymous
memory. Mapping it at its requested base instead
(``-XX:ArchiveRelocationMode=0``, which ``-Xlog:cds=info`` confirmed) keeps
those pages file-backed but just as resident: the driver JVM's VmHWM read
527/499 MB relocated and 538/521 MB not (two sessions each, local[2]), so
that flag would not lower peak memory. The session that records the archive
started in 24.4 s and took 18 s longer to exit.

Python tasks. Every session forks its Python workers from
``worker_daemon`` (``spark.python.daemon.module``), which keeps pyspark's
per-task cache invalidation from re-reading ``pyspark.zip`` on every task;
and AQE coalesces a shuffle to at least ``skew.TASK_BYTES`` per partition
(Spark's default floor is 1 MB), so a kernel stage fed by an exchange gets
the same one-wave sizing as one that ``kernel_op`` spreads itself. Both are
set in the builder, so a session attached to a running JVM gets them too.

Master. ``local[cores]`` whenever ``get_spark`` started the driver JVM,
also when it re-attaches to that JVM after the session stopped (a
``local[1]`` session after a ``local[4]`` one). A script that spark-submit
runs keeps spark-submit's ``--master`` and every ``--conf`` it was given:
``get_spark`` fills in only the settings spark-submit left unset (``cores``
then sizes the shuffle partitions unless ``--conf`` set them), and puts the
package root in front of a submitted ``spark.executorEnv.PYTHONPATH``.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
import sys
import warnings
from pathlib import Path

from pyspark import SparkConf, SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from pdf_parse_bench_spark.operators.skew import TASK_BYTES

PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)
# JDK 17's dynamic-archive magic, the first field of the header
DYNAMIC_ARCHIVE_MAGIC = 0xF00BABA8
# variables the Spark launcher adds to the driver's classpath
CLASSPATH_VARS = ("SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH",
                  "HADOOP_CONF_DIR", "YARN_CONF_DIR")
# seconds the exit hook waits for the recording JVM
DUMP_EXIT_TIMEOUT_S = 300


def get_spark(app: str = "pdf-parse-bench-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS",
                                   len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(32, 2 * cores)
    conf = {
        "spark.app.name": app,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # parallelismFirst coalesces a shuffle to max(total bytes /
        # defaultParallelism, this floor): spread_for_kernel's one-wave
        # rule for the kernel inputs it leaves to the exchange
        "spark.sql.adaptive.coalescePartitions.minPartitionSize":
            str(TASK_BYTES),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # forks the workers; see worker_daemon's docstring
        "spark.python.daemon.module": "pdf_parse_bench_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": PACKAGE_ROOT,
    }
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # spark-submit started the driver JVM: its --master and --conf
        # settings hold (the builder would write over them), so only the
        # missing ones are filled in
        SparkContext._ensure_initialized()
        submitted = dict(SparkConf().getAll())
        path = submitted.pop("spark.executorEnv.PYTHONPATH", None)
        if path:
            conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
                [PACKAGE_ROOT, path])
        return SparkSession.builder.config(map={
            k: v for k, v in conf.items() if k not in submitted
        }).getOrCreate()
    builder = SparkSession.builder.config(map=conf).master(f"local[{cores}]")
    if SparkContext._gateway is not None:
        return builder.getOrCreate()  # our own driver JVM is still running
    archive, tmp = _archive_plan()
    env = {}
    if archive is not None:
        flag = (f"-XX:ArchiveClassesAtExit={tmp}" if tmp
                else f"-XX:SharedArchiveFile={archive}")
        env["SPARK_CONF_DIR"] = str(archive.parent / "conf")
        # the recording JVM prints a warning per class it skips
        env["SPARK_SUBMIT_OPTS"] = " ".join(
            [os.environ.get("SPARK_SUBMIT_OPTS", ""), flag, "-Xlog:cds*=off"]
        ).strip()
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        spark = builder.getOrCreate()
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    proc = SparkContext._gateway.proc
    if archive is not None and tmp is None:
        _check_mapped(proc.pid, archive)
    elif archive is not None:
        atexit.register(_publish, proc, tmp, archive)
    return spark


def _archive_plan() -> tuple[Path | None, Path | None]:
    """(archive, temporary file to record it to): (archive, None) maps the
    archive; (None, None) when the classpath cannot be archived or another
    process is recording the archive."""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR",
                              os.path.join(spark_home, "conf"))
    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else shutil.which("java"))
    if java is None or any(os.environ.get(v) for v in CLASSPATH_VARS):
        return None, None
    try:
        conf = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
        if not all(n.endswith(".template") for n in conf):
            return None, None
        cache = Path(os.path.realpath(
            os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache"),
            "pdf_parse_bench_spark", "cds")
        (cache / "conf").mkdir(parents=True, exist_ok=True)
        archive = cache / f"{archive_key(spark_home, java)}.jsa"
        recording = _sweep(cache, archive.name)
        if archive.exists():
            return archive, None
        if recording:
            return None, None
        # the JVM writes the file only at exit; until then the empty file
        # tells other processes that this one is recording
        tmp = Path(f"{archive}.{os.getpid()}.tmp")
        tmp.touch()
    except OSError:
        return None, None
    return archive, tmp


def archive_key(spark_home: str, java: str) -> str:
    """Hash of the JDK build and of the jars the driver JVM loads."""
    java = os.path.realpath(java)
    release = Path(java).parent.parent / "release"
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    h = hashlib.sha256(f"{java}\0{jars}\0".encode())
    h.update(release.read_bytes() if release.exists() else b"")
    for e in sorted(os.scandir(jars), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def _sweep(cache: Path, name: str) -> bool:
    """Removes archives other than `name` and temporary files of dead pids;
    returns whether a live process is recording `name`."""
    recording = False
    for p in cache.iterdir():
        if p.name.endswith(".tmp"):
            stem, pid = p.name[:-len(".tmp")].rsplit(".", 1)
            if pid.isdigit() and _alive(int(pid)):
                recording |= stem == name
                continue
            p.unlink(missing_ok=True)
        elif p.suffix == ".jsa" and p.name != name:
            p.unlink(missing_ok=True)
    return recording


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _check_mapped(pid: int, archive: Path) -> None:
    """Removes `archive`, with a warning, unless the JVM `pid` mapped it."""
    try:
        with open(f"/proc/{pid}/maps") as f:
            mapped = any(str(archive) in line for line in f)
    except OSError:
        return  # no memory map to read: trust the JVM
    if not mapped:
        warnings.warn(f"the driver JVM refused the class-data-sharing archive "
                      f"{archive}; removed it, the next session records a new one")
        archive.unlink(missing_ok=True)


def _publish(proc: subprocess.Popen, tmp: Path, archive: Path) -> None:
    """At exit: stop the recording JVM, wait until it has written `tmp`,
    and move `tmp` to `archive` if the JVM finished it."""
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is proc:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        rc = proc.wait(timeout=DUMP_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return  # left for a later session's sweep once this pid is gone
    if rc == 0 and _finished(tmp):
        os.replace(tmp, archive)
    else:
        tmp.unlink(missing_ok=True)


def _finished(path: Path) -> bool:
    """Whether the JVM wrote the dynamic archive's header, its last write."""
    try:
        with open(path, "rb") as f:
            head = f.read(4)
    except FileNotFoundError:
        return False
    return int.from_bytes(head, sys.byteorder) == DYNAMIC_ARCHIVE_MAGIC
