"""The worker-side hook that spares Spark's own archives the per-task
``importlib.invalidate_caches()`` (open_semantic_etl_spark/_worker_setup.py).

It patches a Spark-internal name, so these tests pin the Spark version
it was checked against, the two facts it relies on (``main`` looks the
function up as a module global; the function ends in the flush), that
it is live inside real workers, and that user zips are still re-read.
"""

from __future__ import annotations

import ast
import dis
import inspect
import io
import json
import sys
import zipfile
import zipimport

import pytest
import pyspark
from pyspark import worker, worker_util
from pyspark.serializers import write_int, write_with_length
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_semantic_etl_spark import _worker_setup


def test_spark_version_is_the_one_checked():
    """a Spark upgrade must re-check the two facts below, then bump
    ``SPARK_VERSION_CHECKED``."""
    assert pyspark.__version__ == _worker_setup.SPARK_VERSION_CHECKED == "4.1.2"


def test_worker_main_calls_the_module_global():
    """``pyspark.worker.main`` looks ``setup_spark_files`` up in the
    module's globals on each task, so rebinding the global takes effect."""
    main = inspect.unwrap(worker.main)
    loads = [
        i for i in dis.get_instructions(main)
        if i.opname == "LOAD_GLOBAL" and i.argval == "setup_spark_files"
    ]
    assert len(loads) == 1
    assert worker.setup_spark_files is worker_util.setup_spark_files


def test_setup_spark_files_ends_in_the_cache_flush():
    """the flush the hook shields Spark's archives from is the
    function's last statement, after the user includes are on the path."""
    fn = ast.parse(inspect.getsource(worker_util.setup_spark_files)).body[0]
    assert ast.unparse(fn.body[-1]) == "importlib.invalidate_caches()"


def test_hook_is_live_in_reused_workers(spark):
    """a package UDF run twice: every task's worker has the wrapper
    installed, and on the second job no Spark-archive zipimporter a
    worker saw in the first was re-read. A worker that fell back to the
    stock setup (say, a silently ignored worker module) re-reads them
    all on every task."""
    from open_semantic_etl_spark.operators.numerize import numerize_en

    def probe(s):
        import os
        import sys
        import zipimport

        w = sys.modules["pyspark.worker"]
        spark_zips = {
            key: finder._files
            for key, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
            and (
                os.path.basename(finder.archive) == "pyspark.zip"
                or os.path.basename(finder.archive).startswith("py4j")
                or finder.archive.endswith(".jar")
            )
        }
        seen = getattr(w, "_probe_spark_zips", None)
        kept = None if seen is None else all(
            files is seen[key] for key, files in spark_zips.items() if key in seen
        )
        w._probe_spark_zips = spark_zips
        hooked = getattr(w.setup_spark_files, "spares_spark_archives", False)
        report = json.dumps([os.getpid(), hooked, len(spark_zips), kept])
        return s.map(numerize_en).map(lambda _: report)

    udf = F.pandas_udf(probe, T.StringType())
    # 16 tasks per job cycle through the whole idle-worker queue, so the
    # second job's workers all ran a task of the first
    df = spark.range(0, 64, 1, 16).select(F.col("id").cast("string").alias("t"))
    jobs = [
        {tuple(json.loads(r.p)) for r in df.select(udf("t").alias("p")).distinct().collect()}
        for _ in range(2)
    ]
    for reports in jobs:
        assert all(hooked for _, hooked, _, _ in reports)
        assert all(n_zips >= 1 for _, _, n_zips, _ in reports)  # pyspark.zip at least
    second = [kept for _, _, _, kept in jobs[1] if kept is not None]
    assert second and all(second)


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


def test_user_zip_is_reread_and_spark_archives_held_back(tmp_path, monkeypatch):
    """the wrapped stock ``setup_spark_files``, fed one user zip that is
    rewritten under the same name between two tasks: the new module
    imports. Importers of archives in ``$SPARK_HOME/python/lib`` and
    ``$SPARK_HOME/jars`` keep their directory listing and their cache
    slot; the user zip's listing is re-read."""
    home = tmp_path / "spark"
    (home / "python" / "lib").mkdir(parents=True)
    (home / "jars").mkdir()
    spark_archives = [home / "python" / "lib" / "pyspark.zip", home / "jars" / "core.jar"]
    for archive in spark_archives:
        _write_zip(archive, {"spark_stub.py": ""})
    files_dir = tmp_path / "userFiles"
    files_dir.mkdir()
    user_zip = files_dir / "deps.zip"
    _write_zip(user_zip, {"worker_setup_probe_mod.py": "VALUE = 1\n"})

    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_root_directory", SparkFiles._root_directory)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", SparkFiles._is_running_on_worker)
    monkeypatch.delitem(sys.modules, "worker_setup_probe_mod", raising=False)

    held = {str(a): zipimport.zipimporter(str(a)) for a in spark_archives}
    sys.path_importer_cache.update(held)
    listings = {key: imp._files for key, imp in held.items()}

    def task_input() -> io.BytesIO:
        buf = io.BytesIO()
        write_with_length(str(files_dir).encode(), buf)
        write_int(1, buf)
        write_with_length(user_zip.name.encode(), buf)
        buf.seek(0)
        return buf

    setup = _worker_setup.spare_spark_archives(worker_util.setup_spark_files)
    setup(task_input())
    import worker_setup_probe_mod

    assert worker_setup_probe_mod.VALUE == 1
    user_listing = sys.path_importer_cache[str(user_zip)]._files

    # a leading member moves the module's offset: a stale listing cannot read it
    _write_zip(user_zip, {"pad.txt": "x" * 4096, "worker_setup_probe_mod.py": "VALUE = 2\n"})
    del sys.modules["worker_setup_probe_mod"]
    setup(task_input())
    import worker_setup_probe_mod  # noqa: F811

    assert worker_setup_probe_mod.VALUE == 2
    assert sys.path_importer_cache[str(user_zip)]._files is not user_listing
    for key, imp in held.items():
        assert sys.path_importer_cache[key] is imp
        assert imp._files is listings[key]


@pytest.mark.parametrize("in_task", [False, True])
def test_install_wraps_once_and_only_in_a_worker_task(monkeypatch, in_task):
    """outside a task (no task context, as on the driver) the stock
    function stays; inside one it is wrapped, and only once."""
    from pyspark.taskcontext import TaskContext

    monkeypatch.setattr(worker, "setup_spark_files", worker_util.setup_spark_files)
    monkeypatch.setitem(sys.modules, "pyspark.worker", worker)
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object() if in_task else None))
    _worker_setup.install()
    _worker_setup.install()
    wrapped = worker.setup_spark_files
    if not in_task:
        assert wrapped is worker_util.setup_spark_files
    else:
        assert wrapped.spares_spark_archives
        assert wrapped.__wrapped__ is worker_util.setup_spark_files
