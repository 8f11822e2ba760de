"""Python worker daemon (lucene_spark._daemon): zip archives on sys.path are
re-read only when they change, and Spark tasks run under the patch."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pre313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ invalidates zip caches lazily"
)

PROBE = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport

    from lucene_spark import _daemon

    archive = sys.argv[1]
    _daemon._install_zip_cache()
    sys.path.insert(0, archive)
    import zmod
    assert zmod.V == 1

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    zipimport._read_directory = counting
    importlib.invalidate_caches()  # first sight of the archive: one read
    first = reads.count(archive)
    for _ in range(3):
        importlib.invalidate_caches()
    print("unchanged", reads.count(archive) - first)

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod.py", "V = 2\\n")
        z.writestr("zmod_new.py", "W = 'fresh'\\n")
    importlib.invalidate_caches()
    print("rewritten", reads.count(archive) - first)
    import zmod_new
    print("new", zmod_new.W)
    """
)


@pre313
def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod.py", "V = 1\n")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]))
    out = subprocess.run(
        [sys.executable, "-c", PROBE, archive], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    lines = dict(line.split(" ", 1) for line in out.stdout.split("\n") if line)
    assert lines["unchanged"] == "0"
    assert int(lines["rewritten"]) >= 1
    assert lines["new"] == "fresh"


@pre313
def test_spark_tasks_run_with_the_patched_invalidate(spark):
    def probe(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__code__.co_filename

    got = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    assert got[0].endswith(os.path.join("lucene_spark", "_daemon.py")), got
