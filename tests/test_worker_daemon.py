"""The preloading worker daemon: when ``get_spark`` picks it, that the
module survives a missing optional import, and that a Python worker of the
test session forks from it."""

from __future__ import annotations

import os
import site
import subprocess
import sys

import pandas as pd
import pytest

from nemo_spark import session

PRELOAD, STOCK = "nemo_spark.worker_daemon", "pyspark.daemon"


@pytest.fixture
def root(tmp_path, monkeypatch):
    """A stand-in package root, on no search path of the daemon yet."""
    pkg = tmp_path / "pkgroot"
    pkg.mkdir()
    monkeypatch.setattr(session, "_PACKAGE_ROOT", str(pkg))
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.setattr(site, "getsitepackages", lambda: [str(tmp_path / "site")])
    return pkg


LOCAL = ["local", "local[1]", "local[4]", "local[*]", "local[4,2]"]
CLUSTER = ["yarn", "spark://host:7077", "k8s://https://host:443", "local-cluster[2,1,1024]"]


def test_guard_keeps_stock_daemon_when_package_not_on_path(root):
    for master in LOCAL + CLUSTER:
        assert session._daemon_module(master) == STOCK, master


@pytest.mark.parametrize("where", ["cwd", "PYTHONPATH", "site-packages"])
def test_guard_picks_preload_for_local_master_only(root, monkeypatch, where):
    if where == "cwd":
        monkeypatch.chdir(root)
    elif where == "PYTHONPATH":
        monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/nonexistent", str(root)]))
    else:
        monkeypatch.setattr(site, "getsitepackages", lambda: ["/nonexistent", str(root)])
    for master in LOCAL:
        assert session._daemon_module(master) == PRELOAD, master
    for master in CLUSTER:
        assert session._daemon_module(master) == STOCK, master


def test_preload_module_tolerates_missing_import():
    """With ``pandas`` unimportable the module still freezes the heap and
    hands over to ``pyspark.daemon.manager`` (stubbed: no JVM)."""
    code = (
        "import gc, runpy, sys\n"
        "sys.modules['pandas'] = None\n"  # `import pandas` now raises ImportError
        "import pyspark.daemon\n"
        "pyspark.daemon.manager = lambda: print('manager', gc.get_freeze_count() > 0, 'pyarrow' in sys.modules)\n"
        "runpy.run_module('nemo_spark.worker_daemon', run_name='__main__')\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["manager", "True", "True"]


def test_arrow_udf_worker_forks_from_preload_daemon(spark):
    """The test session runs from the repository root on a local master, so
    its Arrow-batched UDF workers fork from the preloading daemon."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def parent_cmdline(ids: pd.Series) -> pd.Series:
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode().strip()
        return pd.Series([cmd] * len(ids))

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == PRELOAD
    got = {r[0] for r in spark.range(4).select(parent_cmdline("id")).collect()}
    assert got and all(cmd.split()[1:] == ["-m", PRELOAD, "pyspark.worker"] for cmd in got), got
