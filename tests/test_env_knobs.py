"""The package's SPARK_GRAFT_* environment surface is a fixed allowlist.

Spark-free: scans the package source for environment READS of
SPARK_GRAFT_* names (``environ.get("…")``, ``environ["…"]``, ``getenv("…")``)
rather than bare mentions, so comments and docstrings that name a knob do
not count. A new knob must be added here on purpose, with its reason.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "weather_data_pipeline_spark"

ALLOWED = {
    # session width and driver heap: set by perfbench/run.py and the test run
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    # skip the session prewarm: perfbench/run.py times it separately
    "SPARK_GRAFT_NO_PREWARM",
    # deployment paths
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_RELIABLE_CKPT_DIR",
    "SPARK_GRAFT_STREAM_CKPT_BASE",
}

_READ = re.compile(
    r"""(?:environ\.get|environ|getenv)\s*[(\[]\s*["'](SPARK_GRAFT_\w+)["']"""
)


def _env_reads() -> dict:
    found: dict = {}
    for path in sorted(PKG.rglob("*.py")):
        for name in _READ.findall(path.read_text()):
            found.setdefault(name, []).append(str(path.relative_to(PKG)))
    return found


def test_pattern_matches_every_read_form():
    src = (
        'os.environ.get("SPARK_GRAFT_A")\n'
        "os.environ['SPARK_GRAFT_B']\n"
        'os.getenv("SPARK_GRAFT_C", "1")\n'
        "# $SPARK_GRAFT_D in a comment\n"
    )
    assert _READ.findall(src) == ["SPARK_GRAFT_A", "SPARK_GRAFT_B", "SPARK_GRAFT_C"]


def test_package_env_reads_are_the_allowlist():
    found = _env_reads()
    assert set(found) == ALLOWED, {
        "unexpected": {k: found[k] for k in set(found) - ALLOWED},
        "missing": sorted(ALLOWED - set(found)),
    }
