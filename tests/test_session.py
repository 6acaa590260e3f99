"""Session factory: the driver heap default and the Python worker
daemon that keeps zip archives from being re-read on every task."""

from __future__ import annotations

import os
import zipfile
import zipimport

import pytest

from finding_similar_high_dimensional_items_for_big_data_sets_spark import session


def _meminfo(tmp_path, total_kb: int) -> str:
    path = tmp_path / "meminfo"
    path.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(path)


def test_driver_memory_is_half_the_host_capped(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    # a 15 GB host gets ~7.5g, not the 24g that outgrows it
    assert session.driver_memory(_meminfo(tmp_path, 15_990_000)) == "7807m"
    assert session.driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "24576m"
    assert session.driver_memory(_meminfo(tmp_path, 1024 * 1024)) == "1024m"
    assert session.driver_memory(str(tmp_path / "missing")) == "24576m"


def test_driver_memory_env_overrides(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "6g")
    assert session.driver_memory(_meminfo(tmp_path, 15_990_000)) == "6g"


def test_reused_worker_keeps_pyspark_zip_directory(spark):
    """Within one reused worker process the pyspark.zip importer's
    directory dict survives from task to task: nothing re-read it."""

    def probe(batches):
        import os
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        here = pyspark.__file__
        zi = next(
            (
                imp
                for imp in sys.path_importer_cache.values()
                if isinstance(imp, zipimport.zipimporter)
                and here.startswith(imp.archive + os.sep)
            ),
            None,
        )
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "zipped": [zi is not None],
                "files": [id(zi._files) if zi is not None else 0],
            }
        )

    rows = []
    for _ in range(2):
        df = spark.range(0, 16, 1, 16).mapInPandas(
            probe, "pid long, zipped boolean, files long"
        )
        rows += df.collect()
    if not all(r["zipped"] for r in rows):
        pytest.skip("pyspark is not imported from a zip archive in the workers")
    by_pid: dict[int, set[int]] = {}
    for r in rows:
        by_pid.setdefault(r["pid"], set()).add(r["files"])
    reused = [pid for pid, _ in by_pid.items() if sum(r["pid"] == pid for r in rows) > 1]
    assert reused, "no worker process ran two tasks"
    assert all(len(by_pid[pid]) == 1 for pid in reused)


def test_rewritten_zip_is_still_reread(tmp_path, monkeypatch):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark import worker_daemon

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )
    path = tmp_path / "lib.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("first.py", "X = 1\n")
    imp = zipimport.zipimporter(str(path))
    imp.invalidate_caches()
    files = imp._files
    imp.invalidate_caches()
    assert imp._files is files  # unchanged archive: not re-read

    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("first.py", "X = 1\n")
        zf.writestr("second.py", "Y = 2\n")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    imp.invalidate_caches()
    assert imp._files is not files
    assert imp.find_spec("second") is not None

    path.unlink()
    imp.invalidate_caches()
    assert imp._files == {}
