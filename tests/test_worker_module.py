"""The Python worker module every ``get_spark`` session runs
(``pythongis_spark/_worker/pyspark_gis_worker.py``)."""

import json
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

from pythongis_spark import session as S

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Run in a fresh interpreter: importing the worker module changes
# zipimporter for the whole process.
_INVALIDATION = """
import importlib, os, sys, zipfile

def zip_with(path, name):
    with zipfile.ZipFile(path, "a") as z:
        z.writestr(name + ".py", "VALUE = %r\\n" % name)

def importable(name):
    try:
        return importlib.import_module(name).VALUE == name
    except ModuleNotFoundError:
        return False

def replaced_in_place_seen(tag):
    path = os.path.join(TMP, tag + ".zip")
    zip_with(path, tag + "_a")
    sys.path.insert(0, path)
    assert importable(tag + "_a")
    zip_with(path, tag + "_b")  # same path, new directory
    importlib.invalidate_caches()
    return importable(tag + "_b")

TMP = sys.argv[1]
assert replaced_in_place_seen("stock")  # stock invalidation re-reads the zip
sys.path.insert(0, sys.argv[2])
import pyspark_gis_worker  # noqa: F401
assert callable(pyspark_gis_worker.main)
assert not replaced_in_place_seen("kept")  # the directory was not re-read

# a zip on a new path still imports
zip_with(os.path.join(TMP, "late.zip"), "late_zip")
sys.path.insert(0, os.path.join(TMP, "late.zip"))
assert importable("late_zip")

# a .py written into a directory already on sys.path still imports
pydir = os.path.join(TMP, "pydir")
os.mkdir(pydir)
sys.path.insert(0, pydir)
assert not importable("late_py")  # the FileFinder has cached the listing
with open(os.path.join(pydir, "late_py.py"), "w") as fh:
    fh.write("VALUE = 'late_py'\\n")
importlib.invalidate_caches()
assert importable("late_py")

# relative and None entries are still dropped
sys.path_importer_cache["relative_dir"] = None
importlib.invalidate_caches()
assert "relative_dir" not in sys.path_importer_cache
print("ok")
"""


def test_zipimporter_keeps_directory_and_new_files_import(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _INVALIDATION, str(tmp_path), S.WORKER_DIR],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_with_worker_dir_merges_existing_entries():
    sep = os.pathsep
    assert S.with_worker_dir(None) == S.WORKER_DIR
    assert S.with_worker_dir("") == S.WORKER_DIR
    assert S.with_worker_dir(f"/a{sep}/b") == f"/a{sep}/b{sep}{S.WORKER_DIR}"
    kept = f"{S.WORKER_DIR}{sep}/a"
    assert S.with_worker_dir(kept) == kept


def test_worker_conf_is_what_sessions_and_jobs_set():
    env = "spark.executorEnv.PYTHONPATH"
    for master in ("local", "local[4]", "local[*]", "local-cluster[2,1,1024]"):
        assert S.worker_conf(master) == {"spark.python.worker.module": S.WORKER_MODULE,
                                         env: S.WORKER_DIR}
    assert S.worker_conf("local[2]", "/a")[env] == S.with_worker_dir("/a")
    # WORKER_DIR is a driver path: executors on other hosts keep the stock worker
    for master in ("spark://h:7077", "yarn", "k8s://https://h:443", "mesos://h:5050", ""):
        assert S.worker_conf(master, "/a") == {}
    # the spark-submit jobs set no master and build with the submitted conf
    for job in ("image_pipeline_job.py", "text_pipeline_job.py"):
        src = open(os.path.join(REPO, "jobs", job)).read()
        assert ".config(map=submitted_worker_conf())" in src and ".master(" not in src, job


_SUBMITTED = """
import json
from pythongis_spark.session import submitted_worker_conf
print("CONF " + json.dumps(submitted_worker_conf()))
"""


def test_submitted_worker_conf_follows_spark_submit(tmp_path):
    """Under spark-submit the jobs' conf follows the submitted master and
    merges the submitted executor PYTHONPATH (no SparkContext is started,
    so the standalone master is never contacted)."""
    from pyspark.find_spark_home import _find_spark_home

    script = tmp_path / "submitted.py"
    script.write_text(_SUBMITTED)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p))

    def submitted(*args):
        out = subprocess.run(
            [os.path.join(_find_spark_home(), "bin", "spark-submit"), "--driver-memory", "512m",
             *args, str(script)],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-4000:]
        return json.loads(next(ln[5:] for ln in out.stdout.splitlines() if ln.startswith("CONF ")))

    got = submitted("--master", "local[1]", "--conf", "spark.executorEnv.PYTHONPATH=/kept")
    assert got == {"spark.python.worker.module": S.WORKER_MODULE,
                   "spark.executorEnv.PYTHONPATH": S.with_worker_dir("/kept")}
    assert submitted("--master", "spark://localhost:7077") == {}


def _worker_state():
    """A task function (nested, so it is pickled by value) reporting whether
    its worker imported the worker module and kept its replacement."""

    def state(_):
        import sys
        import zipimport

        return (
            "pyspark_gis_worker" in sys.modules,
            zipimport.zipimporter.invalidate_caches.__name__,
        )

    return state


def test_session_workers_run_the_worker_module(spark):
    assert spark.conf.get("spark.python.worker.module") == S.WORKER_MODULE
    env = spark.conf.get("spark.executorEnv.PYTHONPATH")
    assert S.WORKER_DIR in env.split(os.pathsep)
    got = spark.sparkContext.parallelize(range(8), 8).map(_worker_state()).collect()
    assert got == [(True, "_keep_directory")] * 8


def test_py_file_added_after_first_task_imports(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize(range(8), 8).map(_worker_state()).count() == 8
    name = "late_" + uuid.uuid4().hex
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    sc.addPyFile(str(path))

    def use(_):
        import importlib

        return importlib.import_module(name).VALUE

    assert sc.parallelize(range(8), 8).map(use).collect() == [42] * 8


_SESSION = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F, types as T
from pythongis_spark.session import get_spark

for daemon in ("true", "false"):
    spark = get_spark(app="worker-module", cores=2,
                      extra_conf={"spark.python.use.daemon": daemon})
    kept = F.udf(lambda x: __import__("zipimport").zipimporter.invalidate_caches.__name__)
    double = F.udf(lambda x: x * 2, T.LongType())
    rows = spark.range(4, numPartitions=2).select(double("id"), kept("id")).collect()
    print(daemon, sorted(r[0] for r in rows), sorted({r[1] for r in rows}))
    spark.stop()
"""


def test_daemon_imports_worker_module_outside_repo(tmp_path):
    """A session started outside the repo, with the repo absent from the
    environment's PYTHONPATH, still runs Python UDFs: the worker module
    reaches the daemon (and the non-daemon worker) through the executor
    environment, not through the working directory."""
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    )
    script = tmp_path / "session.py"
    script.write_text(textwrap.dedent(_SESSION))
    out = subprocess.run(
        [sys.executable, str(script), REPO], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith(("true", "false"))]
    expect = "[0, 2, 4, 6] ['_keep_directory']"
    assert lines == [f"true {expect}", f"false {expect}"]
