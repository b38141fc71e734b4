"""Knob-creep guard: the engine reads only deployment/session settings
from the environment.  A mode switch (a plan choice, a staging mode)
belongs in the rules or the code, not in an env variable kept "just in
case"; adding one must change this list under review."""

from __future__ import annotations

import pathlib
import re

import sagan_spark

SETTINGS = {
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_JVM_OPTS",
    "SPARK_GRAFT_LOCAL_DIR",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
    "SPARK_GRAFT_STAGE_DIR",
}

READ = re.compile(
    r"""(?:os\.environ\.get|os\.getenv)\(\s*["'](\w+)["']"""
    r"""|os\.environ\[\s*["'](\w+)["']\s*\]"""
)


def test_env_reads_are_only_deployment_settings():
    names = set()
    for path in pathlib.Path(sagan_spark.__file__).parent.rglob("*.py"):
        src = path.read_text()
        reads = READ.findall(src)
        # every environment access names its variable literally
        assert len(reads) == src.count("os.environ") + src.count("os.getenv"), path
        names |= {a or b for a, b in reads}
    assert names == SETTINGS
