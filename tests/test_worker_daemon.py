"""The Python worker daemon (``_worker_daemon``): its stamped
``zipimporter.invalidate_caches`` re-reads an archive only when the
archive changed, sessions from ``get_spark`` run their workers under it,
and archives added with ``addPyFile`` still import."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from python_vector_db___ai_spark import _worker_daemon
from python_vector_db___ai_spark._worker_daemon import invalidate_if_changed

REPO = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in members.items():
            zf.writestr(name, source)


def _load(importer, name):
    spec = importer.find_spec(name)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture
def original_calls(monkeypatch):
    """Archives the wrapped original re-read, in call order."""
    calls = []
    original = _worker_daemon._original

    def counting(self):
        calls.append(self.archive)
        return original(self)

    monkeypatch.setattr(_worker_daemon, "_original", counting)
    return calls


def test_unchanged_archive_is_read_once_and_a_rewrite_rereads(
        tmp_path, original_calls):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"alpha.py": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    for _ in range(3):
        invalidate_if_changed(importer)
    assert original_calls == [str(archive)]
    assert _load(importer, "alpha").X == 1

    _write_zip(archive, {"alpha.py": "X = 1\n", "beta.py": "Y = 2\n"})
    invalidate_if_changed(importer)
    invalidate_if_changed(importer)
    assert original_calls == [str(archive)] * 2
    assert _load(importer, "beta").Y == 2


def test_deleted_archive_behaves_as_the_original(tmp_path, original_calls):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"alpha.py": "X = 1\n"})
    wrapped = zipimport.zipimporter(str(archive))
    plain = zipimport.zipimporter(str(archive))
    invalidate_if_changed(wrapped)
    st = os.stat(archive)

    archive.unlink()
    assert invalidate_if_changed(wrapped) is None
    assert zipimport.zipimporter.invalidate_caches(plain) is None
    assert len(original_calls) == 2
    assert wrapped.find_spec("alpha") is None
    assert plain.find_spec("alpha") is None

    # The same bytes back under the same stamp: the refresh after the
    # deletion must not count as a read of this archive.
    _write_zip(archive, {"alpha.py": "X = 1\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(archive).st_size == st.st_size
    invalidate_if_changed(wrapped)
    assert len(original_calls) == 3
    assert _load(wrapped, "alpha").X == 1


def test_workers_run_the_stamping_invalidate(spark):
    """Fails without ``spark.python.daemon.module``: stock workers keep
    the unwrapped method."""
    def probe(batches):
        import zipimport

        import pyarrow as pa

        flag = (zipimport.zipimporter.invalidate_caches.__name__
                == "invalidate_if_changed")
        for b in batches:
            yield pa.RecordBatch.from_pydict({"flag": [flag] * b.num_rows})

    rows = spark.range(0, 4, numPartitions=2).mapInArrow(
        probe, "flag boolean").collect()
    assert [r.flag for r in rows] == [True] * 4


def test_add_py_file_after_a_python_job_imports_in_a_udf(spark, tmp_path):
    """``setup_spark_files`` invalidates import caches per task so that
    archives added mid-session import; the daemon must keep that."""
    def read_value(batches):
        import pyarrow as pa
        import vectordb_late_added_mod

        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"v": [vectordb_late_added_mod.VALUE] * b.num_rows})

    def noop(batches):
        yield from batches

    df = spark.range(0, 2, numPartitions=2)
    df.mapInArrow(noop, df.schema).collect()
    archive = tmp_path / "vectordb_late_added.zip"
    _write_zip(archive, {"vectordb_late_added_mod.py": "VALUE = 41\n"})
    spark.sparkContext.addPyFile(str(archive))
    rows = df.mapInArrow(read_value, "v long").collect()
    assert [r.v for r in rows] == [41, 41]


def test_daemon_module_import_prints_nothing():
    """The daemon's stdout carries its port number: a stray print fails
    every Python task."""
    proc = subprocess.run(
        [sys.executable, "-c",
         "import python_vector_db___ai_spark._worker_daemon"],
        cwd=REPO, env=dict(os.environ, PYTHONPATH=str(REPO)),
        capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout == ""


@pytest.mark.parametrize("reach", ["PYTHONPATH", "sys.path"])
def test_session_outside_the_repo_runs_a_python_udf(tmp_path, reach):
    """Workers import the daemon module from any driver working
    directory, whether the driver reaches the package through
    PYTHONPATH or only through its own ``sys.path`` (as ``tools/``
    scripts do)."""
    env = {k: v for k, v in os.environ.items()
           if k != "PYTHONPATH" and not k.startswith("SPARK_GRAFT_")}
    if reach == "PYTHONPATH":
        env["PYTHONPATH"] = str(REPO)
        head = ""
    else:
        head = f"import sys; sys.path.insert(0, {str(REPO)!r})\n"
    script = head + (
        "from python_vector_db___ai_spark.session import get_spark\n"
        "def probe(batches):\n"
        "    import zipimport\n"
        "    import pyarrow as pa\n"
        "    f = zipimport.zipimporter.invalidate_caches\n"
        "    for b in batches:\n"
        "        yield pa.RecordBatch.from_pydict(\n"
        "            {'flag': [f.__name__ == 'invalidate_if_changed']"
        " * b.num_rows})\n"
        "spark = get_spark('worker-daemon-cwd', cpus=1,"
        " shuffle_partitions=1)\n"
        "rows = spark.range(0, 1).mapInArrow(probe, 'flag boolean')"
        ".collect()\n"
        "print('UDF_FLAGS', [r.flag for r in rows])\n"
        "spark.stop()\n")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "UDF_FLAGS [True]" in proc.stdout, proc.stdout[-2000:]
