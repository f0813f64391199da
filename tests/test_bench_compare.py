from __future__ import annotations

import json
import sys

import pytest

from tools import bench_compare


def _run(tmp_path, monkeypatch, base: dict, new: dict) -> None:
    paths = []
    for name, doc in (("base", base), ("new", new)):
        p = tmp_path / f"{name}.json"
        p.write_text(json.dumps({"regime": "median-noop", "queries": {"q": 1.0}, **doc}))
        paths.append(str(p))
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", *paths])
    assert bench_compare.main() == 0


@pytest.mark.parametrize(
    "base, new",
    [
        ({"host_canary_s": 0.0}, {"host_canary_s": 0.5}),
        ({"host_canary_s": 0.5}, {"host_canary_s": -1.0}),
        ({"host_canary_s": 0.0}, {}),
        ({"host_canary_mc_s": 0.0}, {"host_canary_mc_s": 2.0}),
    ],
)
def test_zero_canary_is_reported(tmp_path, monkeypatch, capsys, base, new):
    _run(tmp_path, monkeypatch, base, new)
    assert "canary invalid/zero — comparability unknown" in capsys.readouterr().out


@pytest.mark.parametrize(
    "base, new",
    [
        ({"host_canary_s": 0.5}, {"host_canary_s": 0.55}),
        ({}, {"host_canary_s": 0.5}),
        ({}, {}),
    ],
)
def test_valid_or_missing_canary_is_not_flagged(tmp_path, monkeypatch, capsys, base, new):
    _run(tmp_path, monkeypatch, base, new)
    out = capsys.readouterr().out
    assert "comparability unknown" not in out
    assert "canaries differ" not in out


def test_canaries_from_different_windows_warn(tmp_path, monkeypatch, capsys):
    _run(tmp_path, monkeypatch, {"host_canary_s": 0.4}, {"host_canary_s": 0.8})
    assert "host-speed canaries differ 2.00x" in capsys.readouterr().out
