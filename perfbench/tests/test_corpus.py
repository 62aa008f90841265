"""The corpus generator is a pure function of (workload, seed)."""

import filecmp
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, names in os.walk(root) for f in names)


@pytest.mark.parametrize("workload", ["offtopic_timelines", "neardup_crawl",
                                      "ingest_promote"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    corpus.generate(workload, 11, a, scale=0.3)
    corpus.generate(workload, 11, b, scale=0.3)
    corpus.generate(workload, 12, c, scale=0.3)
    names = _files(a)
    assert names == _files(b) == _files(c)
    assert "truth.json" in names
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert sorted(mismatch) == names


def test_planted_truth_shapes(tmp_path):
    off = corpus.generate("offtopic_timelines", 3, str(tmp_path / "o"))
    # ~20% of the timelines flip off-topic for their second half
    assert 0 < len(off["offtopic_urims"]) < off["pages"] / 2
    assert off["long_timeline_pages"] >= 0.08 * off["pages"]

    near = corpus.generate("neardup_crawl", 3, str(tmp_path / "n"))
    grouped = sum(len(g) for g in near["dup_groups"])
    assert 0.15 <= grouped / near["pages"] <= 0.25
    assert all(2 <= len(g) for g in near["dup_groups"])
    assert near["duplicate_keys"]

    ing = corpus.generate("ingest_promote", 3, str(tmp_path / "i"))
    for d, n in enumerate(ing["delta_pages"]):
        path = tmp_path / "i" / f"delta-{d}" / "batch.warc.gz"
        assert path.read_bytes()[:2] == b"\x1f\x8b"
        assert n > 0
    with open(tmp_path / "i" / "truth.json") as fh:
        assert json.load(fh)["pages"] == ing["pages"]
