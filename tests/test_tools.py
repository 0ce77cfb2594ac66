"""Unit tests for the measurement tooling that the round artifacts
depend on — pure-python, except the ``tools/measure.py`` failure-path
test, which runs on the shared test session."""

from __future__ import annotations

import glob
import importlib
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from compare_bench import _series, compare  # noqa: E402
from tools.measure import WARM_DIR  # noqa: E402

TOOL_MODULES = sorted(
    os.path.splitext(os.path.basename(p))[0]
    for p in glob.glob(os.path.join(REPO, "tools", "*.py"))
)


@pytest.mark.parametrize("name", TOOL_MODULES)
def test_tool_module_imports(name):
    """Every tool imports cleanly (``main()`` is not run), so a dangling
    import of a deleted name fails here, not at the next manual run."""
    importlib.import_module(f"tools.{name}")


def test_bench_summarise_fails_loudly():
    """A failed query nulls the total and is named; it never shrinks
    the total by dropping out of the sum."""
    from bench import summarise

    ok = summarise({"q01_a": 1.0, "q02_b": 2.5})
    assert ok["value"] == 3.5 and ok["n_failed"] == 0 and ok["failed"] == []
    assert ok["queries"] == {"q01_a": 1.0, "q02_b": 2.5}

    bad = summarise({"q01_a": 1.0, "q02_b": None})
    assert bad["value"] is None
    assert bad["n_failed"] == 1 and bad["failed"] == ["q02_b"]
    assert bad["queries"] == {"q01_a": 1.0, "q02_b": -1.0}
    assert {"metric", "unit"} <= set(bad)


@pytest.mark.skipif(not os.path.isdir(WARM_DIR), reason="warm-run testdata absent")
def test_measure_reports_failures(spark, tmp_path):
    """A query that raises on its warm run or on a timed rep is reported
    failed with no cell; a good query gets one rep per requested rep."""
    from tools.measure import time_query

    calls: list[str] = []

    def fails_on_warm(spark, sf_dir):
        calls.append(sf_dir)
        raise ValueError("boom on warm")

    def fails_on_timed(spark, sf_dir):
        if sf_dir != WARM_DIR:
            raise RuntimeError("boom on timed")
        return spark.range(3)

    def good(spark, sf_dir):
        return spark.range(3)

    sf = str(tmp_path)
    warm = time_query(spark, fails_on_warm, sf, reps=2)
    assert warm.error == "ValueError: boom on warm"
    assert warm.median is None and warm.reps == []
    assert calls == [WARM_DIR]  # no timed rep after a failed warm run

    timed = time_query(spark, fails_on_timed, sf, reps=2)
    assert timed.error == "RuntimeError: boom on timed"
    assert timed.median is None

    hooks: list[int] = []
    res = time_query(spark, good, sf, reps=3, after_rep=lambda: hooks.append(1))
    assert res.error is None and len(res.reps) == 3 and len(hooks) == 3
    assert res.median is not None and res.median >= 0


def test_series_flat_and_rich_shapes():
    flat = {"queries": {"q1": 1.5, "q2": -1.0, "q3": 2}}
    rich = {"queries": {"q1": {"spark": 1.5, "oracle": 0.5}, "q2": {"spark": None}}}
    assert _series(flat, "spark") == {"q1": 1.5, "q3": 2.0}
    assert _series(flat, "oracle") == {}
    assert _series(rich, "spark") == {"q1": 1.5}
    assert _series(rich, "oracle") == {"q1": 0.5}


def test_compare_flags_only_rel_and_abs(capsys):
    a = {"queries": {"q_big": 10.0, "q_small": 0.10, "q_same": 3.0}}
    b = {"queries": {"q_big": 20.0, "q_small": 0.20, "q_same": 3.1}}
    # q_big: 100% rel AND 10s abs -> flagged; q_small: 100% rel but
    # 0.1s abs -> NOT flagged (sub-noise absolute); q_same: within band
    n = compare(a, b, band=0.35, abs_floor=0.3)
    out = capsys.readouterr().out
    assert n == 1
    assert "DRIFT q_big" in out
    assert "q_small" not in out


def test_compare_agree(capsys):
    a = {"queries": {"q1": 1.0, "q2": 2.0}}
    n = compare(a, a, band=0.35, abs_floor=0.3)
    assert n == 0
    assert "all rows within band" in capsys.readouterr().out


def test_compare_bench_main_flag_bounds(monkeypatch, capsys):
    """r10 ADVICE: '--band' with a missing or non-numeric value prints
    usage and returns 2 instead of crashing with IndexError/ValueError."""
    import compare_bench

    for argv in (
        ["compare_bench.py", "a.json", "b.json", "--band"],
        ["compare_bench.py", "a.json", "b.json", "--band", "wide"],
        ["compare_bench.py", "a.json", "b.json", "--abs"],
    ):
        monkeypatch.setattr(sys, "argv", argv)
        assert compare_bench.main() == 2
        assert "Usage" in capsys.readouterr().out


def test_sf1_oracle_row_fields_partial_vs_full():
    """r10 ADVICE medium: a row whose oracle reps partially failed must
    report oracle=None + oracle_err (with the succeeded count), never a
    silent partial median; a full row carries median + spread and no
    error."""
    from sf1_bench import oracle_row_fields

    full = oracle_row_fields([1.0, 2.0, 3.0], [], reps=3)
    assert full["oracle"] == 2.0
    assert full["oracle_rep_count"] == 3
    assert "oracle_err" not in full and "oracle_spread" in full

    partial = oracle_row_fields([1.0, 2.0], ["timeout >900s"], reps=3)
    assert partial["oracle"] is None
    assert partial["oracle_rep_count"] == 2
    assert partial["oracle_reps"] == [1.0, 2.0]
    assert "timeout" in partial["oracle_err"]
    assert "[2/3 reps succeeded]" in partial["oracle_err"]

    empty = oracle_row_fields([], ["boom"], reps=3)
    assert empty["oracle"] is None and "[0/3" in empty["oracle_err"]


def test_ratio_excludes_artifact_totals_on_set_mismatch(tmp_path, capsys):
    """r10 ADVICE: artifact-level oracle totals cover every oracle-
    succeeded query; when a spark failure shrinks the compared set, the
    headline min() must not pick a denominator for a different
    workload."""
    import json

    import ratio

    bench = {
        "sf": 0.1,
        "queries": {"q1": 1.0, "q2": 1.0, "q3": -1.0},  # q3 spark failed
        "oracle_queries": {"q1": 0.5, "q2": 0.5, "q3": 0.5},
        # whole-artifact totals cover q1-q3 — a different set than names
        "oracle_total_cold": 0.9,
        "oracle_total_warm": 1.5,
    }
    src = tmp_path / "bench.json"
    out = tmp_path / "RATIO.md"
    src.write_text(json.dumps(bench))
    assert ratio.main_from(str(src), str(out)) == 0
    md = out.read_text()
    # names={q1,q2}: total_s=2.0, total_o=1.0; artifact totals excluded
    # from the min() -> honest ratio 2.00x (not 2.0/0.9)
    assert "**2.00x**" in md
    headline = next(ln for ln in md.split("\n") if ln.startswith("- Spark total"))
    assert "cold" not in headline

    # same-set case: artifact totals are comparable and cold wins
    bench["queries"]["q3"] = 1.0
    src.write_text(json.dumps(bench))
    assert ratio.main_from(str(src), str(out)) == 0
    md = out.read_text()
    assert "cold 0.9s" in md and "**0.9s**" in md


def test_merge_sf1_bench_overlays_rows_and_recomputes_totals():
    from merge_sf1_bench import merge

    base = {
        "queries": {
            "q1": {"spark": 1.0, "oracle": 2.0},
            "q2": {"spark": 3.0, "oracle": None, "oracle_err": "x"},
        },
        "excluded": {"q9": "too big"},
        "spark_total": 1.0,
        "oracle_total": 2.0,
        "ratio": 0.5,
        "n_compared": 1,
    }
    part = {
        "queries": {
            "q2": {"spark": 2.5, "oracle": 5.0},  # replaces the failed row
            "q3": {"spark": 1.5, "oracle": 0.5},  # new row
        },
        "excluded": {"q9": "different reason", "q10": "also big"},
    }
    out = merge(base, [part])
    assert out["n_compared"] == 3
    assert out["spark_total"] == 5.0 and out["oracle_total"] == 7.5
    assert out["ratio"] == round(5.0 / 7.5, 3)
    assert out["excluded"]["q9"] == "too big"  # first reason kept
    assert out["excluded"]["q10"] == "also big"
    assert "merged_rows_note" in out
