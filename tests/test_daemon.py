"""The worker daemon's stat-gated zip directory cache (spark/daemon.py)."""

import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

gated = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="the gate is installed only where invalidate_caches re-reads eagerly")

# Runs in a fresh interpreter: counts zip directory reads around
# importlib.invalidate_caches() with the daemon module imported.
_PROBE = textwrap.dedent("""
    import importlib, os, sys, zipfile, zipimport

    archive = sys.argv[1]

    def write(name):
        tmp = archive + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            z.writestr(name + ".py", f"NAME = {name!r}\\n")
        os.replace(tmp, archive)

    write("zmod_a")
    sys.path.insert(0, archive)
    import zmod_a

    import shapely_spark.spark.daemon as d
    assert zipimport.zipimporter.invalidate_caches is d._gated_invalidate_caches

    reads = []
    stock_read = zipimport._read_directory
    def counting_read(path):
        reads.append(path)
        return stock_read(path)
    zipimport._read_directory = counting_read

    importlib.invalidate_caches()
    print("unchanged", reads.count(archive))

    write("zmod_b")
    importlib.invalidate_caches()
    print("rewritten", reads.count(archive))
    import zmod_b
    print("imported", zmod_b.NAME)
    importlib.invalidate_caches()
    print("again", reads.count(archive))

    os.remove(archive)
    importlib.invalidate_caches()
    print("removed", archive in zipimport._zip_directory_cache)
""")


def _probe(tmp_path) -> dict[str, str]:
    env = dict(os.environ, PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(tmp_path / "probe.zip")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr
    return dict(line.split(" ", 1) for line in out.stdout.splitlines())


@gated
def test_zip_gate_rereads_only_changed_archives(tmp_path):
    got = _probe(tmp_path)
    # recorded by the daemon at import: no re-read of an unchanged archive
    assert got["unchanged"] == "0"
    # rewritten at the same path: re-read once, and the new module imports
    assert got["rewritten"] == "1"
    assert got["imported"] == "zmod_b"
    assert got["again"] == "1"
    # a failed stat keeps the stock behaviour: the directory is dropped
    assert got["removed"] == "False"


@gated
def test_spark_workers_run_the_gated_daemon(spark):
    """Every worker of a get_spark() session runs the preloading daemon
    with the gate installed, not a stock daemon it silently fell back to."""

    def probe(batches):
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for b in batches:
            yield pd.DataFrame({"fn": [fn.__qualname__] * len(b),
                                "src": fn.__code__.co_filename})

    rows = (spark.range(0, 40, numPartitions=4)
            .mapInPandas(probe, "fn string, src string").collect())
    assert len(rows) == 40
    assert {r.fn for r in rows} == {"_gated_invalidate_caches"}
    assert {os.path.realpath(r.src) for r in rows} == {
        os.path.realpath(os.path.join(ROOT, "shapely_spark", "spark", "daemon.py"))}
