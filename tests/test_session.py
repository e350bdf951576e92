"""Session factory: per-process Spark scratch and dead-owner sweeping."""

import os
import subprocess
import sys

from geowave_spark.session import local_dirs


def test_local_dirs_sweeps_dead_pid_dirs(tmp_path, monkeypatch):
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    for name in (f"pid-{dead.pid}", f"pid-{os.getppid()}", "pid-x", "other"):
        (tmp_path / name / "blockmgr-1").mkdir(parents=True)
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))

    assert local_dirs() == str(tmp_path / f"pid-{os.getpid()}")
    # the dead owner's scratch is gone; a live owner's and foreign dirs stay
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        [f"pid-{os.getppid()}", "pid-x", "other"]
    )


def test_local_dirs_resolution_order(tmp_path, monkeypatch):
    a, b = tmp_path / "a", tmp_path / "b"
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(b))
    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{a},{b}")
    own = f"pid-{os.getpid()}"
    assert local_dirs() == f"{a / own},{b / own}"
    # an already resolved dir is kept, not nested again
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(a / own))
    assert local_dirs() == str(a / own)
