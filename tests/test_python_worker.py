"""The engine's Python worker entry (``pyspark_graft_worker``).

Every Python task starts with ``importlib.invalidate_caches()``.  The worker
entry makes that skip re-reading zip archives that did not change, while a
zip added or rewritten between tasks is still seen by the next task.
Task functions are nested so cloudpickle ships them by value.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

import pytest

ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)
    os.replace(tmp, path)


def test_tasks_do_not_reread_unchanged_zips(spark):
    def zip_rereads(_rows):
        """Count the zip directory reads one ``invalidate_caches()`` makes
        in this worker: what every Python task pays at its start."""
        import importlib
        import zipimport

        reads = [0]
        read_directory = zipimport._read_directory

        def counting(archive):
            reads[0] += 1
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return [reads[0]]

    rdd = spark.sparkContext.parallelize(range(4), 4).mapPartitions(zip_rereads)
    assert [rdd.collect() for _ in range(3)] == [[0, 0, 0, 0]] * 3


def test_zip_added_with_add_py_file_is_importable_next_task(spark, tmp_path):
    sc = spark.sparkContext
    name = f"graft_addpy_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.zip"
    _write_zip(path, {name: "VALUE = 41\n"})

    def find(_rows):
        import importlib.util

        return [importlib.util.find_spec(name) is not None]

    # warm every worker's import caches before the zip exists for them
    assert not any(sc.parallelize(range(8), 8).mapPartitions(find).collect())
    sc.addPyFile(str(path))

    def value(_rows):
        import importlib

        return [importlib.import_module(name).VALUE + 1]

    assert sc.parallelize(range(8), 8).mapPartitions(value).collect() == [42] * 8


def test_rewritten_zip_on_path_exposes_new_module_next_task(spark, tmp_path):
    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    first, second = f"graft_rw_a_{tag}", f"graft_rw_b_{tag}"
    path = str(tmp_path / f"graft_rw_{tag}.zip")
    _write_zip(path, {first: "VALUE = 1\n"})

    def visit(module):
        def task(_rows):
            import importlib
            import sys
            import zipimport

            if path not in sys.path:
                sys.path.insert(0, path)
            # an importer created by an earlier task of this worker, and
            # so read (and stamped) before the rewrite
            earlier = isinstance(
                sys.path_importer_cache.get(path), zipimport.zipimporter
            )
            return [(os.getpid(), earlier, importlib.import_module(module).VALUE)]

        return task

    before = []
    for _ in range(2):
        before += sc.parallelize(range(16), 16).mapPartitions(visit(first)).collect()
    assert {v for _, _, v in before} == {1}
    _write_zip(path, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
    after = sc.parallelize(range(16), 16).mapPartitions(visit(second)).collect()
    assert {v for _, _, v in after} == {2}
    # the property is only exercised by a worker that read the old zip
    assert any(earlier for _, earlier, _ in after)


@pytest.mark.parametrize("use_daemon", ["true", "false"])
def test_workers_start_from_a_foreign_cwd(tmp_path, use_daemon):
    """Workers import the worker entry from the executors' PYTHONPATH, not
    from the driver's working directory: through the daemon, or (daemon
    off) as ``python -m pyspark_graft_worker`` per worker."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ENGINE_ROOT!r})
        from db_migration_spark.session import get_spark

        spark = get_spark(
            "foreign-cwd",
            master="local[2]",
            extra_conf={{"spark.python.use.daemon": {use_daemon!r}}},
        )
        spark.sparkContext.setLogLevel("ERROR")

        def double(batches):
            for pdf in batches:
                yield pdf.assign(id=pdf["id"] * 2)

        rows = spark.range(6).mapInPandas(double, "id long").collect()
        print("RESULT", sorted(r.id for r in rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "RESULT [0, 2, 4, 6, 8, 10]" in proc.stdout
