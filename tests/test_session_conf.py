"""Session factory confs and the small tools around them."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from mcyj_datapipeline_spark.session import get_spark, parse_extra_conf

REPO = Path(__file__).resolve().parents[1]


def test_get_spark_turns_off_dataframe_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_extra_conf_parses_pairs_and_skips_empty_segments():
    assert parse_extra_conf("") == []
    assert parse_extra_conf(" a.b = 1 ;c=x=y;; ") == [("a.b", "1"), ("c", "x=y")]
    assert parse_extra_conf("k=v;") == [("k", "v")]


def test_extra_conf_raises_on_pair_without_equals():
    with pytest.raises(ValueError, match="spark.sql.adaptive.enabled"):
        parse_extra_conf("spark.sql.shuffle.partitions=4;spark.sql.adaptive.enabled")


def test_get_spark_refuses_malformed_extra_conf(monkeypatch):
    """Raised before any session is built or reused."""
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "spark.sql.shuffle.partitions:4")
    with pytest.raises(ValueError, match="shuffle.partitions:4"):
        get_spark()


def _tier_report(tmp_path, log_text, *args):
    log = tmp_path / "durations.log"
    log.write_text(log_text)
    return subprocess.run(
        [sys.executable, str(REPO / "tools" / "test_tier_report.py"), *args],
        cwd=tmp_path, capture_output=True, text=True,
    )


def test_tier_report_all_zero_log(tmp_path):
    res = _tier_report(tmp_path, "0.00s call tests/test_a.py::test_x\n", "durations.log")
    assert res.returncode == 0, res.stderr
    assert "0.0%  tests/test_a.py" in res.stdout


def test_tier_report_tests_flag_anywhere_and_bare(tmp_path):
    log = "1.50s call tests/test_a.py::test_x\n0.50s setup tests/test_b.py::test_y\n"
    res = _tier_report(tmp_path, log, "--tests", "per_test.txt", "durations.log")
    assert res.returncode == 0, res.stderr
    assert "100.0%  tests/test_b.py" in res.stdout
    assert "tests/test_a.py::test_x" in (tmp_path / "per_test.txt").read_text()
    bare = _tier_report(tmp_path, log, "durations.log", "--tests")
    assert bare.returncode == 2 and "--tests" in bare.stderr
