"""One session configuration: the package, the tools and bench.py read
only deployment settings from the environment, so every benchmark and
tool runs the session the server runs (msgvault_spark/session.py)."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent

DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_JVM_OPTS",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_ARTIFACT_DIR",
}


def test_only_deployment_settings_are_read_from_the_environment():
    files = [ROOT / "bench.py"]
    for d in ("msgvault_spark", "tools"):
        files += sorted((ROOT / d).rglob("*.py"))
    names = set()
    for f in files:
        names |= set(re.findall(r"SPARK_GRAFT_[A-Z_]+", f.read_text()))
    assert names == DEPLOYMENT_SETTINGS
