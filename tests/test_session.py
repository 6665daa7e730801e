"""The Python worker daemon of ``session.get_spark`` (``_daemon.py``).

What depends on the Python version or needs a fresh process runs in a
subprocess, so neither the zipimport patch nor a second session can
leak into the shared test session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

from pyspark.sql.functions import pandas_udf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "sql_interface_to_xml_database_for_spatial_operations_spark"

_INVALIDATE_SCRIPT = r"""
import importlib, json, sys, zipfile, zipimport

archive, with_daemon = sys.argv[1], sys.argv[2] == "1"
sys.path.insert(0, archive)
import m1, zpkg.sub  # one zipimporter for the archive, one for zpkg/

if with_daemon:
    importlib.import_module("{pkg}._daemon")

reads = []
read_directory = zipimport._read_directory

def counting(path):
    if path == archive:
        reads.append(path)
    return read_directory(path)

zipimport._read_directory = counting
importlib.invalidate_caches()
importers = sum(
    1 for f in sys.path_importer_cache.values()
    if isinstance(f, zipimport.zipimporter) and f.archive == archive
)
eager_reads = len(reads)

with zipfile.ZipFile(archive, "a") as z:
    z.writestr("m2.py", "VALUE = 2\n")
importlib.invalidate_caches()
import m2

print(json.dumps({{"reads": eager_reads, "importers": importers,
                  "m1": m1.VALUE, "m2": m2.VALUE}}))
"""


def _invalidate_run(tmp_path, with_daemon: bool) -> dict:
    archive = tmp_path / f"mods{int(with_daemon)}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("m1.py", "VALUE = 1\n")
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub.py", "")
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _INVALIDATE_SCRIPT.format(pkg=PKG),
            str(archive),
            str(int(with_daemon)),
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_lazy_zip_invalidation_keeps_import_semantics(tmp_path):
    """With ``_daemon`` imported, ``importlib.invalidate_caches()`` reads
    no zip directory; without it, Python < 3.13 reads one per
    zipimporter. Either way a module added to the archive afterwards
    imports."""
    stock = _invalidate_run(tmp_path, with_daemon=False)
    lazy = _invalidate_run(tmp_path, with_daemon=True)
    assert stock["importers"] >= 2
    want_stock = stock["importers"] if sys.version_info < (3, 13) else 0
    assert stock["reads"] == want_stock
    assert lazy["reads"] == 0
    for run in (stock, lazy):
        assert (run["m1"], run["m2"]) == (1, 2)


def test_udf_workers_fork_from_package_daemon(spark):
    @pandas_udf("string")
    def daemon_module(s):
        import sys

        return s.map(lambda _: sys.modules["__main__"].__spec__.name)

    got = {r[0] for r in spark.range(0, 4, 1, 2).select(daemon_module("id")).collect()}
    assert got == {f"{PKG}._daemon"}


_OTHER_CWD_SCRIPT = r"""
import sys

sys.path.insert(0, {repo!r})
from {pkg} import get_spark, register_spatial_functions

spark = get_spark("other-cwd", cpus="1")
register_spatial_functions(spark)
print(spark.sql("SELECT st_distance(st_point(0, 0), st_point(3, 4))").first()[0])
spark.stop()
"""


def test_udfs_work_outside_repo_without_pythonpath(tmp_path):
    """Workers import the package (and its daemon) through
    ``spark.executorEnv.PYTHONPATH``, not through the caller's working
    directory or environment."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _OTHER_CWD_SCRIPT.format(repo=REPO, pkg=PKG)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=tmp_path,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == "5.0"
