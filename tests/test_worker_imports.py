"""The stat-gated zipimporter refresh (``_gate_zip_refresh`` in the
package ``__init__``): ``importlib.invalidate_caches()`` re-reads a zip
archive's directory only when the archive changed on disk, so a reused
Python worker stops re-parsing pyspark.zip before every task."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import deduplicate_text_datasets_spark as pkg

gated = pytest.mark.skipif(
    not (3, 10) <= sys.version_info[:2] < (3, 13),
    reason="the refresh re-reads the archive only on CPython 3.10-3.12",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@gated
def test_zip_refresh_skips_unchanged_archive(tmp_path, monkeypatch):
    archive = tmp_path / "gate_fixture.zip"
    first, second = f"zg_first_{tmp_path.name}", f"zg_second_{tmp_path.name}"
    _write_zip(archive, {first: "VALUE = 1\n"})
    monkeypatch.setattr(sys, "path", [str(archive), *sys.path])
    try:
        assert importlib.import_module(first).VALUE == 1
        importlib.invalidate_caches()  # stamps the new importer

        reads = []
        real_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return real_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert str(archive) in reads
        assert importlib.import_module(second).VALUE == 2
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)


@gated
def test_zip_refresh_gate_installs_once():
    gate = zipimport.zipimporter.invalidate_caches
    pkg._gate_zip_refresh()
    importlib.reload(pkg)
    assert zipimport.zipimporter.invalidate_caches is gate
    assert not hasattr(gate.__wrapped__, "_stat_gated")


def test_reused_worker_keeps_pyspark_zip_directory(spark):
    """A reused worker's later tasks find pyspark.zip's directory as the
    earlier task left it: the per-task refresh no longer re-reads it. A
    worker's first two tasks may still re-read (the gate installs while
    the first task's command is unpickled), so only later ones count.
    Idle workers are handed out first-in first-out, so the job has many
    more tasks than the pool has workers."""

    def kernel(batches):
        import os
        import time
        import zipimport

        import pandas as pd
        import pyspark

        import deduplicate_text_datasets_spark  # noqa: F401  (installs the gate)

        for _ in batches:
            pass
        entry = next(
            (
                files
                for archive, files in zipimport._zip_directory_cache.items()
                if pyspark.__file__.startswith(archive + os.sep)
            ),
            None,
        )
        if entry is None:
            seen = -1  # pyspark was not imported from a zip
        else:
            seen = int("__zip_refresh_marker__" in entry)
            entry["__zip_refresh_marker__"] = None
        yield pd.DataFrame(
            {"pid": [os.getpid()], "t": [time.monotonic_ns()], "seen": [seen]}
        )

    tasks = 96
    runs = (
        spark.range(tasks, numPartitions=tasks)
        .mapInPandas(kernel, "pid long, t long, seen long")
        .collect()
    )
    if any(r.seen < 0 for r in runs):
        pytest.skip("Python workers do not import pyspark from a zip")
    by_worker: dict[int, list[int]] = {}
    for r in sorted(runs, key=lambda r: r.t):
        by_worker.setdefault(r.pid, []).append(r.seen)
    assert any(len(seen) >= 3 for seen in by_worker.values()), by_worker
    for seen in by_worker.values():
        assert seen[2:] == [1] * len(seen[2:]), by_worker
