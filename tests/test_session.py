"""Pins for the shared session builder and the tool CLIs (no Spark needed).

``tools/session.py`` holds the one session conf and the one strict
``KEH_CHECK_CONF`` parser; a malformed overlay or a mistyped profiler flag
must fail before a JVM starts, never run a silently different session.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TOOLS = os.path.join(_REPO, "tools")
sys.path.insert(0, _TOOLS)

from session import check_conf  # noqa: E402

# Spark's first stderr line once a session starts; its absence shows the
# tool exited before Spark did
_SPARK_STARTED = "Setting default log level"


def _tool(script: str, *args: str, env_extra: dict | None = None):
    return subprocess.run(
        [sys.executable, os.path.join(_TOOLS, script), *args],
        capture_output=True, text=True, cwd=_REPO,
        env=dict(os.environ, **(env_extra or {})),
        timeout=30,  # Spark startup plus one query exceeds this
    )


def test_check_conf_parses_the_strict_overlay(monkeypatch):
    monkeypatch.setenv(
        "KEH_CHECK_CONF",
        " spark.master = local[3] ;spark.sql.shuffle.partitions=5;;k=a=b",
    )
    assert check_conf() == {
        "spark.master": "local[3]",
        "spark.sql.shuffle.partitions": "5",
        "k": "a=b",
    }
    monkeypatch.delenv("KEH_CHECK_CONF")
    assert check_conf() == {}


@pytest.mark.parametrize("bad", ["spark.sql.adaptive.enabled", "=false"])
def test_check_conf_rejects_a_malformed_entry(monkeypatch, bad):
    monkeypatch.setenv("KEH_CHECK_CONF", f"spark.ui.enabled=false;{bad}")
    with pytest.raises(SystemExit, match="not key=value"):
        check_conf()


@pytest.mark.parametrize("script", ["check_correctness.py", "plan_lint.py"])
def test_malformed_check_conf_fails_before_spark(script):
    proc = _tool(
        script, "q1_pricing_summary",
        env_extra={"KEH_CHECK_CONF": "spark.sql.adaptive.enabled"},
    )
    assert proc.returncode != 0
    assert "KEH_CHECK_CONF entry is not key=value" in proc.stderr
    assert _SPARK_STARTED not in proc.stderr


@pytest.mark.parametrize(
    "args",
    [["--nop", "q1_pricing_summary"], ["q1_pricing_summary", "--runs"]],
    ids=["unknown-flag", "runs-without-value"],
)
def test_profile_query_rejects_bad_flags_before_spark(args):
    proc = _tool("profile_query.py", *args)
    assert proc.returncode == 2, proc.stderr[-500:]
    assert "usage:" in proc.stderr
    assert _SPARK_STARTED not in proc.stderr


def test_session_module_never_imports_the_package():
    """calib_basket.py and profile_query.py --root build their session
    here and then import ANOTHER tree's package; a copy of this tree's
    package already in sys.modules would be timed instead, silently."""
    proc = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]); import session; "
         "print(sorted(m for m in sys.modules "
         "if m.startswith('kafka_error_handling_spark')))",
         _TOOLS],
        capture_output=True, text=True, cwd=_REPO, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr[-500:]
    assert proc.stdout.strip() == "[]"
