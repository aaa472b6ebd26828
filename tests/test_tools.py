"""Command-line guards of the maintenance scripts under ``tools/``."""

import json
import os
import subprocess
import sys

from tools import normalize_bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _normalize(tmp_path, monkeypatch, new, old):
    paths = []
    for name, doc in (("new.json", new), ("old.json", old)):
        path = tmp_path / name
        path.write_text(json.dumps(doc))
        paths.append(str(path))
    monkeypatch.setattr(sys, "argv", ["normalize_bench.py", *paths])
    return normalize_bench.main()


def _run(queries, sentinels):
    return {"queries": queries, "calibration": {"sentinel_sec": sentinels}}


def test_normalize_bench_skips_zero_time_rows(tmp_path, monkeypatch, capsys):
    new = _run({"a": 0.0, "b": 2.0}, {"a": 1.0, "b": 1.0})
    assert _normalize(tmp_path, monkeypatch, new, {"queries": {"a": 1.0, "b": 4.0}}) == 0
    out = capsys.readouterr()
    assert "raw=2.000" in out.out and "a: zero time" in out.err


def test_normalize_bench_reports_no_common_rows(tmp_path, monkeypatch, capsys):
    new = _run({"a": 1.0}, {"a": 1.0})
    assert _normalize(tmp_path, monkeypatch, new, {"queries": {"b": 1.0}}) == 1
    assert "no query in common" in capsys.readouterr().err


def test_normalize_bench_skips_rows_without_sentinel(tmp_path, monkeypatch, capsys):
    new = _run({"a": 1.0, "b": 2.0}, {"b": 1.0})
    assert _normalize(tmp_path, monkeypatch, new, {"queries": {"a": 1.0, "b": 4.0}}) == 0
    out = capsys.readouterr()
    assert "raw=2.000" in out.out and "a: no sentinel" in out.err


def test_check_oracles_help_prints_usage(tmp_path):
    script = os.path.join(ROOT, "tools", "check_oracles.py")
    for args in (["--help"], ["-h"], [str(tmp_path / "missing")]):
        proc = subprocess.run(
            [sys.executable, script, *args], capture_output=True, text=True, timeout=120
        )
        assert proc.returncode == 2, proc.stderr
        assert "Usage: python tools/check_oracles.py" in proc.stdout
        assert "Exception" not in proc.stderr
