"""The event-log reader on a small checked-in log (four jobs of a detect
run, trimmed to the events the reader uses)."""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")
PREPARE = "1|operators.prepare_pages"
SCORE = "2|operators.score_timemap_measures"


def test_job_totals_sum_stage_accumulables():
    totals = eventlog.job_totals(FIXTURE)
    assert set(totals) == {PREPARE, SCORE}
    prep = totals[PREPARE]
    assert prep["jobs"] == 2
    # stage 92 (4 tasks) + stage 94 (8 tasks); stage 93 was skipped
    assert prep["stages"] == 2 and prep["tasks"] == 12
    assert prep["executor_run_s"] == pytest.approx((82 + 8595) / 1000)
    assert prep["executor_cpu_s"] == pytest.approx(
        (46031787 + 202511298) / 1e9)
    # two Python evaluation nodes in stage 94
    assert prep["python_run_s"] == pytest.approx((5835 + 8316) / 1000)
    assert prep["to_python_mb"] == pytest.approx(
        (617872 + 417168) / 2**20)
    assert prep["shuffle_write_mb"] > 0


def test_shared_stage_counts_once():
    # jobs 50 and 51 both list stages 95 and 96 (skipped); each completed
    # stage belongs to the first job that listed it
    score = eventlog.job_totals(FIXTURE)[SCORE]
    assert score["jobs"] == 2 and score["stages"] == 2
    assert score["tasks"] == 16
    assert score["gc_s"] == pytest.approx(0.104)


def test_sum_and_starts():
    totals = eventlog.job_totals(FIXTURE)
    both = eventlog.sum_totals(totals, [PREPARE, SCORE, "missing"])
    assert both["jobs"] == 4 and both["tasks"] == 28
    starts = eventlog.job_starts(FIXTURE)
    assert len(starts[PREPARE]) == 2 and len(starts[SCORE]) == 2
    assert all(t > 0 for t in starts[PREPARE])


def test_log_path_and_rolling_directory(tmp_path):
    rolled = tmp_path / "eventlog_v2_app-1"
    rolled.mkdir()
    lines = open(FIXTURE).read().splitlines(keepends=True)
    (rolled / "events_2_app-1").write_text("".join(lines[6:]))
    (rolled / "events_1_app-1").write_text("".join(lines[:6]))
    assert eventlog.log_path(str(tmp_path)) == str(rolled)
    assert eventlog.job_totals(str(rolled)) == eventlog.job_totals(FIXTURE)
