"""Tests of the benchmark's own generators, checker and helpers.

    python3 -m pytest perfbench/tests -q

None of these start Spark or import the program under test.
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
from library import self_times  # noqa: E402
from run import write_documents, write_transcripts  # noqa: E402


def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


@pytest.mark.parametrize("make", [
    lambda s: gen.articles(s, 60),
    lambda s: gen.chat_turns(s, 400),
])
def test_same_seed_gives_byte_identical_transcripts(tmp_path, make):
    write_transcripts(make(7), str(tmp_path / "a.parquet"))
    write_transcripts(make(7), str(tmp_path / "b.parquet"))
    write_transcripts(make(8), str(tmp_path / "c.parquet"))
    assert _bytes(tmp_path / "a.parquet") == _bytes(tmp_path / "b.parquet")
    assert _bytes(tmp_path / "a.parquet") != _bytes(tmp_path / "c.parquet")


def test_same_seed_gives_byte_identical_documents(tmp_path):
    write_documents(gen.curate_docs(7, 300)[0], str(tmp_path / "a"))
    write_documents(gen.curate_docs(7, 300)[0], str(tmp_path / "b"))
    assert (_bytes(tmp_path / "a" / "documents.parquet")
            == _bytes(tmp_path / "b" / "documents.parquet"))


def _article_shape(rows):
    pages = [r for r in rows if r["tool"] != "pdf"]
    kinds = [r["expect"]["extractor"] for r in pages]
    tail = sum("highlight" in r["text"] for r in pages)
    sizes = [len(r["text"]) for r in pages]
    return {"site": sum(k is not None for k in kinds), "tail": tail,
            "pdf": len(rows) - len(pages),
            "median_kb": statistics.median(sizes) / 1000,
            "min": min(sizes), "max": max(sizes)}


def test_article_shape_is_seed_independent():
    a, b = (_article_shape(gen.articles(s, 400)) for s in (1, 2))
    assert a["site"] == b["site"] == 40
    assert a["tail"] == b["tail"] == 4
    assert a["pdf"] == b["pdf"] == 4
    assert 7 < a["median_kb"] < 14 and 7 < b["median_kb"] < 14
    assert min(a["min"], b["min"]) >= 2000
    assert max(a["max"], b["max"]) < 90_000


def _chat_shape(rows):
    n = len(rows)
    convs: dict[str, int] = {}
    for r in rows:
        convs[r["conv_id"]] = convs.get(r["conv_id"], 0) + 1
    return {"hot": max(convs.values()) / n,
            "pdf": sum(r["tool"] == "pdf" for r in rows) / n,
            "empty": sum(r["expect"]["error"] == "empty_input"
                         for r in rows) / n,
            "median": statistics.median(len(r["text"] or "")
                                        for r in rows)}


def test_chat_shape_is_seed_independent():
    a, b = (_chat_shape(gen.chat_turns(s, 5000)) for s in (1, 2))
    for s in (a, b):
        assert s["hot"] == pytest.approx(0.10, abs=0.005)
        assert s["pdf"] == pytest.approx(0.01, abs=0.005)
        assert s["empty"] == pytest.approx(0.01, abs=0.005)
        assert 100 <= s["median"] <= 2000


def test_curate_plan_is_seed_independent():
    for seed in (1, 2):
        rows, plan = gen.curate_docs(seed, 2000)
        exp = gen.curate_expectation(rows, plan)["ledger"]
        assert exp["docs_in"] == 2000
        assert exp["repetition_dropped"] == 40
        assert len(plan["leaks"]) == 20
        assert exp["dedup_dropped"] == 99     # 50 families of 2, 3, 4


def _clean_output(turns):
    """Output rows a correct job would produce for ``turns``, plus the
    matching library results."""
    rows, lib = [], {}
    for i, t in enumerate(turns):
        e = t["expect"]
        text = " ".join(["body"] + e["main"])
        rows.append({"conv_id": t["conv_id"], "turn_idx": t["turn_idx"],
                     "extracted_text": text, "extractor_type": e["extractor"],
                     "title": e["title"], "error_class": e["error"]})
        lib[i] = (i, check.md5_text(text), e["extractor"], e["title"],
                  e["error"], 1)
    return rows, lib


def test_checker_accepts_clean_output():
    turns = gen.articles(3, 40)
    rows, lib = _clean_output(turns)
    assert check.check_extraction(turns, rows, lib) == ([], 0)


def test_checker_rejects_injected_clutter():
    turns = gen.articles(3, 40)
    rows, lib = _clean_output(turns)
    i = next(i for i, t in enumerate(turns) if t["expect"]["clutter"])
    rows[i]["extracted_text"] += " " + turns[i]["expect"]["clutter"][0]
    lib[i] = lib[i][:1] + (check.md5_text(rows[i]["extracted_text"]),) \
        + lib[i][2:]
    problems, failed = check.check_extraction(turns, rows, lib)
    assert failed == 1 and "clutter" in problems[0]


def test_checker_rejects_dropped_and_duplicated_rows():
    turns = gen.chat_turns(3, 200)
    rows, lib = _clean_output(turns)
    problems, failed = check.check_extraction(turns, rows[1:], lib)
    assert failed == 1 and "lost" in problems[0]
    problems, failed = check.check_extraction(turns, rows + rows[:1], lib)
    assert failed == 1 and "duplicated" in problems[0]


def test_checker_rejects_md5_mismatch_and_wrong_error_class():
    turns = gen.chat_turns(3, 200)
    rows, lib = _clean_output(turns)
    lib[5] = lib[5][:1] + ("0" * 32,) + lib[5][2:]
    problems, failed = check.check_extraction(turns, rows, lib)
    assert failed == 1 and "md5" in problems[0]
    rows, lib = _clean_output(turns)
    rows[7]["error_class"] = "exception"
    problems, failed = check.check_extraction(turns, rows, lib)
    assert failed == 1 and "error class" in problems[0]
    assert check.error_mismatches(turns, rows) == 1


def test_curate_checker_rejects_wrong_survivors():
    rows, plan = gen.curate_docs(4, 600)
    exp = gen.curate_expectation(rows, plan)
    ledger = dict(exp["ledger"], wall_sec=1.0)
    assert check.check_curate(ledger, exp["doc_ids"], exp) == ([], 0)
    spam = sorted(plan["spam"])[0]
    problems, failed = check.check_curate(ledger, exp["doc_ids"] + [spam],
                                          exp)
    assert failed == 1 and "should drop" in problems[0]


def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 1001))
    assert check.percentile(xs, 0.99) == 990        # exactly 10 beyond
    assert check.percentile(xs[:999], 0.99) is None  # only 9 beyond
    assert check.percentile(xs, 0.5) == 500
    assert check.percentile(list(range(100)), 0.95) is None


def test_self_times_subtract_direct_children():
    # doc span 0..100 with children a (10..40, holding b 20..30) and c
    spans = [(0, 0, -1, "doc", 0, 100),
             (0, 1, 0, "dom.parse", 10, 40),
             (0, 2, 1, "extract.text", 20, 30),
             (0, 3, 0, "extract.markdown", 50, 90)]
    st = self_times(spans)
    assert st["dom.parse"] == {0: 20}
    assert st["extract.text"] == {0: 10}
    assert st["extract.markdown"] == {0: 40}
    assert st["extract.other"] == {0: 30}
    assert sum(sum(v.values()) for v in st.values()) == 100
