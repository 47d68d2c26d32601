"""session.get_spark: the class-data-sharing archive of the driver JVM and
the workers' PYTHONPATH. Each session runs in its own process, with its own
XDG_CACHE_HOME, so the archive cache starts empty."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.find_spark_home import _find_spark_home

from pdf_parse_bench_spark import session

REPO = Path(__file__).resolve().parent.parent
SHARED_TOP = "org.apache.spark.SparkContext source: shared objects file (top)"

# one session: a Python job, then the JVM's command line and whether
# get_spark restored the variables it sets for the launch
SESSION = """
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from pdf_parse_bench_spark.session import get_spark
env = dict(os.environ)
spark = get_spark("test-session", cores=2)
kept = all(os.environ.get(k) == env.get(k)
           for k in ("PYTHONPATH", "SPARK_CONF_DIR", "SPARK_SUBMIT_OPTS"))
n = spark.range(4, numPartitions=2).mapInPandas(lambda b: b, "id long").count()
with open(f"/proc/{{SparkContext._gateway.proc.pid}}/cmdline") as f:
    cmdline = f.read().split("\\0")
print(json.dumps({{"rows": n, "cmdline": cmdline, "env_kept": kept}}))
"""


def run_session(tmp: Path, cache: Path, script: str = SESSION,
                **env) -> subprocess.CompletedProcess:
    """Runs `script` in a fresh Python process, from `tmp`, whose JVMs log
    each loaded class to `tmp`/class-load-<pid>.log."""
    full = {k: v for k, v in os.environ.items()
            if k not in ("PYTHONPATH", "SPARK_CONF_DIR")}
    full.update(XDG_CACHE_HOME=str(cache), SPARK_DRIVER_MEM="1g",
                JAVA_TOOL_OPTIONS=(f"-Xlog:class+load=info:"
                                   f"file={tmp}/class-load-%p.log"), **env)
    for log in tmp.glob("class-load-*.log"):
        log.unlink()
    proc = subprocess.run([sys.executable, "-c", script.format(repo=str(REPO))],
                          env=full, cwd=tmp, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc


def result(proc: subprocess.CompletedProcess) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


def shared_top(tmp: Path) -> bool:
    """Whether a JVM of the last session mapped SparkContext from the
    dynamic archive."""
    return any(SHARED_TOP in log.read_text()
               for log in tmp.glob("class-load-*.log"))


def cache_files(cache: Path) -> list[str]:
    cds = cache / "pdf_parse_bench_spark" / "cds"
    return sorted(p.name for p in cds.glob("*")) if cds.exists() else []


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """A cache that one session has used, and that session's output."""
    tmp = tmp_path_factory.mktemp("recorded")
    cache = tmp / "xdg"
    return cache, result(run_session(tmp, cache)), shared_top(tmp)


def test_second_session_maps_the_archive(recorded, tmp_path):
    """The first session records the archive and publishes it at exit (no
    temporary file left); the next session maps it: SparkContext is loaded
    from the archive's top layer."""
    cache, first, first_shared = recorded
    assert first["rows"] == 4 and first["env_kept"]
    assert any(a.startswith("-XX:ArchiveClassesAtExit=")
               for a in first["cmdline"]), first["cmdline"]
    assert not first_shared
    key = session.archive_key(_find_spark_home(), shutil.which("java"))
    assert cache_files(cache) == sorted(["conf", f"{key}.jsa"])
    out = result(run_session(tmp_path, cache))
    assert out["rows"] == 4 and out["env_kept"]
    assert any(a.startswith("-XX:SharedArchiveFile=") for a in out["cmdline"])
    assert shared_top(tmp_path)


def test_workers_find_the_package_without_pythonpath(recorded, tmp_path):
    """A script that finds the package only through sys.path, run from
    another directory with no PYTHONPATH, runs a kernel_op operator: the
    workers import pdf_parse_bench_spark too."""
    script = """
import sys
sys.path.insert(0, {repo!r})
from pdf_parse_bench_spark import extract_spans
from pdf_parse_bench_spark.session import get_spark
from pdf_parse_bench_spark.sources import read_fixture
spark = get_spark("test-workers", cores=2)
md = read_fixture(spark, {repo!r} + "/fixtures/sf0.001", "parsed_markdown")
print(extract_spans(md, boilerplate=frozenset()).count())
"""
    proc = run_session(tmp_path, recorded[0], script)
    assert int(proc.stdout.strip().splitlines()[-1]) > 0


def test_conf_dir_with_real_config_gets_no_archive(tmp_path):
    """A SPARK_CONF_DIR holding a real spark-defaults.conf is on the
    driver's classpath, so the session starts without archive flags,
    records nothing, and still runs a job."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "spark.ui.showConsoleProgress false\n")
    cache = tmp_path / "xdg"
    out = result(run_session(tmp_path, cache, SPARK_CONF_DIR=str(conf)))
    assert out["rows"] == 4 and out["env_kept"]
    assert not [a for a in out["cmdline"] if "Archive" in a], out["cmdline"]
    assert not shared_top(tmp_path) and cache_files(cache) == []


def test_unfinished_or_refused_archive_is_never_kept(tmp_path):
    """A dead process's truncated temporary file is swept, never mapped;
    an archive the JVM refuses is removed with a warning, and the session
    still runs."""
    java = shutil.which("java")
    key = session.archive_key(_find_spark_home(), java)
    cds = tmp_path / "xdg" / "pdf_parse_bench_spark" / "cds"
    cds.mkdir(parents=True)
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True).stdout.strip()
    magic = session.DYNAMIC_ARCHIVE_MAGIC.to_bytes(4, sys.byteorder)
    # a temporary file whose header the JVM wrote, cut short
    (cds / f"{key}.jsa.{dead}.tmp").write_bytes(magic + b"\0" * 65536)
    # an archive the JVM cannot use
    (cds / f"{key}.jsa").write_bytes(b"not an archive" * 1024)
    proc = run_session(tmp_path, tmp_path / "xdg")
    out = result(proc)
    assert out["rows"] == 4 and out["env_kept"]
    assert not [a for a in out["cmdline"] if ".tmp" in a], out["cmdline"]
    assert not shared_top(tmp_path)
    assert "refused the class-data-sharing archive" in proc.stderr
    assert cache_files(tmp_path / "xdg") == ["conf"]

    zeros = tmp_path / "zeros.tmp"  # the JVM killed before its last write
    zeros.write_bytes(b"\0" * 65536)
    finished = tmp_path / "finished.tmp"
    finished.write_bytes(magic + b"\0" * 65536)
    assert not session._finished(zeros) and session._finished(finished)


def test_archive_key_follows_the_jars(tmp_path):
    """The key changes when a jar's name or size changes, and only then."""
    java = shutil.which("java")
    jars = tmp_path / "jars"
    jars.mkdir()
    jar = jars / "spark-core.jar"
    jar.write_bytes(b"x" * 100)
    first = session.archive_key(str(tmp_path), java)
    assert session.archive_key(str(tmp_path), java) == first
    renamed = jar.rename(jars / "spark-core-2.jar")
    second = session.archive_key(str(tmp_path), java)
    stat = renamed.stat()
    renamed.write_bytes(b"x" * 101)
    os.utime(renamed, ns=(stat.st_atime_ns, stat.st_mtime_ns))
    third = session.archive_key(str(tmp_path), java)
    assert len({first, second, third}) == 3
