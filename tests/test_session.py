"""session.get_spark: the class-data-sharing archive of the driver JVM, the
workers' PYTHONPATH and the worker daemon. Each session started here runs
in its own process, with its own XDG_CACHE_HOME, so the archive cache
starts empty."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest
from pyspark.find_spark_home import _find_spark_home

from pdf_parse_bench_spark import session, worker_daemon

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


def test_workers_fork_from_the_daemon_in_both_branches(recorded, tmp_path):
    """Python workers are forked by worker_daemon both when get_spark
    launches the JVM and when it attaches to a running one (a local[1]
    session after the first one stopped, as perfbench's one-core leg)."""
    script = """
import json, os, sys
sys.path.insert(0, {repo!r})
from pdf_parse_bench_spark.session import get_spark

def daemon_argv(batches):
    import pandas as pd
    with open(f"/proc/{{os.getppid()}}/cmdline") as f:
        argv = " ".join(f.read().split("\\0")).strip()
    for _ in batches:
        pass
    yield pd.DataFrame({{"argv": [argv]}})

def argvs(spark):
    return sorted({{r.argv for r in spark.range(2, numPartitions=2)
                   .mapInPandas(daemon_argv, "argv string").collect()}})

spark = get_spark("test-launch", cores=2)
launch = argvs(spark)
spark.stop()
spark = get_spark("test-attach", cores=1)
print(json.dumps({{"launch": launch, "attach": argvs(spark)}}))
"""
    out = result(run_session(tmp_path, recorded[0], script))
    for branch in ("launch", "attach"):
        assert len(out[branch]) == 1, out
        assert out[branch][0].endswith(
            "-m pdf_parse_bench_spark.worker_daemon pyspark.worker"), out


def test_reused_worker_keeps_its_zip_directory(spark):
    """A reused worker does not re-read pyspark.zip's directory on every
    task: each of its importers of that archive keeps the same directory
    object from one job to the next."""
    def directories(batches):
        import pandas as pd
        rows = [(os.getpid(), path, id(f._files))
                for path, f in list(sys.path_importer_cache.items())
                if isinstance(f, zipimport.zipimporter)
                and f.archive.endswith("pyspark.zip")]
        for _ in batches:
            pass
        yield pd.DataFrame(rows, columns=["pid", "path", "files"])

    def run():
        n = spark.sparkContext.defaultParallelism
        rows = (spark.range(n, numPartitions=n)
                .mapInPandas(directories, "pid long, path string, files long")
                .collect())
        return {(r.pid, r.path): r.files for r in rows}

    first, second = run(), run()
    reused = first.keys() & second.keys()
    assert reused, "no worker ran a task of both jobs"
    assert {k: first[k] for k in reused} == {k: second[k] for k in reused}


def test_zip_directory_reread_only_when_changed(tmp_path):
    """worker_daemon.invalidate_caches leaves an unchanged archive's
    directory alone, and re-reads a rewritten or removed one."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("a.py", "A = 1\n")
    importer = zipimport.zipimporter(str(archive))
    worker_daemon.invalidate_caches(importer)
    files = importer._files
    worker_daemon.invalidate_caches(importer)
    assert importer._files is files
    assert importer.find_spec("b") is None

    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("a.py", "A = 1\n")
        zf.writestr("b.py", "B = 2\n")
    worker_daemon.invalidate_caches(importer)
    assert importer._files is not files
    assert importer.find_spec("b") is not None

    archive.unlink()
    worker_daemon.invalidate_caches(importer)
    assert importer._files == {}


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_submitted_script_ships_the_daemon_in_its_zip(tmp_path):
    """A script that spark-submit runs with the package only in a
    --py-files zip calls get_spark (the attach branch): its workers import
    worker_daemon from that zip and run a Python job."""
    package = tmp_path / "pdfpbs.zip"
    with zipfile.ZipFile(package, "w") as zf:
        for f in (REPO / "pdf_parse_bench_spark").rglob("*.py"):
            zf.write(f, f.relative_to(REPO))
    script = tmp_path / "job.py"
    script.write_text(
        "from pdf_parse_bench_spark.session import get_spark\n"
        "spark = get_spark('test-submit', cores=2)\n"
        "print(spark.range(4, numPartitions=2)"
        ".mapInPandas(lambda b: b, 'id long').count())\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        ["spark-submit", "--driver-memory", "1g", "--py-files", str(package),
         str(script)], env=env, cwd=tmp_path, capture_output=True,
        text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "4"


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_submitted_script_keeps_its_master(tmp_path):
    """get_spark in a script that spark-submit runs keeps spark-submit's
    --master and --conf settings instead of its own local[cores] and
    max(32, 2 * cores) shuffle partitions."""
    script = tmp_path / "job.py"
    script.write_text(
        f"import sys\nsys.path.insert(0, {str(REPO)!r})\n"
        "from pdf_parse_bench_spark.session import get_spark\n"
        "spark = get_spark('test-submit-master', cores=2)\n"
        "print(spark.sparkContext.master)\n"
        "print(spark.conf.get('spark.sql.shuffle.partitions'))\n")
    proc = subprocess.run(
        ["spark-submit", "--master", "local[3]", "--driver-memory", "1g",
         "--conf", "spark.sql.shuffle.partitions=7", str(script)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-2:] == ["local[3]", "7"]
