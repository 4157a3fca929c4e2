"""Correctness gates and small statistics helpers.

The checks compare the Spark job's output rows against the generator's
planted expectations and against the library path's result for the same
turn. Each function returns a list of problem strings (empty when the
output is correct) so a run can report every failure, not just the first.
"""

from __future__ import annotations

import hashlib
import json
import math


def percentile(samples, p: float):
    """Nearest-rank ``p`` quantile, or None unless at least 10 samples lie
    beyond it (so a reported p99 rests on at least 10 slower samples)."""
    xs = sorted(samples)
    rank = max(1, math.ceil(p * len(xs)))
    if len(xs) - rank < 10:
        return None
    return xs[rank - 1]


def md5_text(s) -> str | None:
    return hashlib.md5(s.encode()).hexdigest() if s is not None else None


def check_extraction(turns: list[dict], out_rows: list[dict],
                     library: dict | None) -> tuple[list[str], int]:
    """Gate one extraction job's output.

    ``turns`` are the generated rows (with ``expect``) in input order,
    ``out_rows`` the job's output rows (conv_id, turn_idx, extracted_text,
    extractor_type, title, error_class), ``library`` maps a turn's input
    index to the library path's (idx, md5, extractor_type, title,
    error_class, ns) tuple, or is None to skip the md5 comparison.

    Returns (problems, failed) where ``failed`` counts turns with at least
    one problem, lost or duplicated turns included."""
    problems: list[str] = []
    bad: set = set()
    index = {(t["conv_id"], t["turn_idx"]): i for i, t in enumerate(turns)}
    seen: dict[tuple, dict] = {}
    for row in out_rows:
        key = (row["conv_id"], row["turn_idx"])
        if key not in index:
            problems.append(f"unexpected turn {key}")
            bad.add(key)
        elif key in seen:
            problems.append(f"duplicated turn {key}")
            bad.add(key)
        seen[key] = row
    for key in index.keys() - seen.keys():
        problems.append(f"lost turn {key}")
        bad.add(key)
    for key, row in seen.items():
        i = index.get(key)
        if i is None:
            continue
        exp = turns[i]["expect"]
        text = row["extracted_text"] or ""
        missing = [m for m in exp["main"] if m not in text]
        if missing:
            problems.append(f"{key}: main markers missing {missing[:3]}")
            bad.add(key)
        kept = [c for c in exp["clutter"] if c in text]
        if kept:
            problems.append(f"{key}: clutter markers kept {kept[:3]}")
            bad.add(key)
        if row["extractor_type"] != exp["extractor"]:
            problems.append(f"{key}: extractor {row['extractor_type']!r} "
                            f"!= {exp['extractor']!r}")
            bad.add(key)
        if exp["title"] is not None and row["title"] != exp["title"]:
            problems.append(f"{key}: title {row['title']!r} "
                            f"!= {exp['title']!r}")
            bad.add(key)
        if row["error_class"] != exp["error"]:
            problems.append(f"{key}: error class {row['error_class']!r} "
                            f"!= {exp['error']!r}")
            bad.add(key)
        if library is not None:
            lib = library.get(i)
            if lib is None or lib[1] != md5_text(row["extracted_text"]):
                problems.append(f"{key}: extracted_text md5 differs from "
                                "the library path")
                bad.add(key)
    return problems, len(bad)


def error_mismatches(turns: list[dict], out_rows: list[dict]) -> int:
    """Turns whose error class differs from the generator's expectation."""
    want = {(t["conv_id"], t["turn_idx"]): t["expect"]["error"]
            for t in turns}
    return sum(1 for r in out_rows
               if want.get((r["conv_id"], r["turn_idx"]), "?")
               != r["error_class"])


def extraction_digest(out_rows: list[dict]) -> str:
    """Order-independent digest of what the job produced per turn."""
    h = hashlib.md5()
    for r in sorted(out_rows, key=lambda r: (r["conv_id"], r["turn_idx"])):
        h.update(json.dumps([r["conv_id"], r["turn_idx"],
                             md5_text(r["extracted_text"]),
                             r["extractor_type"], r["title"],
                             r["error_class"]]).encode())
    return h.hexdigest()


def curate_digest(ledger: dict, doc_ids: list[int]) -> str:
    body = json.dumps([{k: v for k, v in sorted(ledger.items())
                        if k != "wall_sec"}, sorted(doc_ids)])
    return hashlib.md5(body.encode()).hexdigest()


def check_curate(ledger: dict, doc_ids: list[int], expected: dict
                 ) -> tuple[list[str], int]:
    """Gate one curation run against the generator's expectation.
    Returns (problems, failed) where ``failed`` counts wrong doc ids plus
    wrong ledger entries."""
    problems = []
    failed = 0
    for key, want in expected["ledger"].items():
        if ledger.get(key) != want:
            problems.append(f"ledger {key}: {ledger.get(key)!r} != {want!r}")
            failed += 1
    got, want = set(doc_ids), set(expected["doc_ids"])
    if len(doc_ids) != len(got):
        problems.append(f"{len(doc_ids) - len(got)} duplicated output docs")
        failed += len(doc_ids) - len(got)
    extra, lost = sorted(got - want), sorted(want - got)
    if extra:
        problems.append(f"{len(extra)} docs kept that should drop: "
                        f"{extra[:5]}")
    if lost:
        problems.append(f"{len(lost)} docs dropped that should stay: "
                        f"{lost[:5]}")
    return problems, failed + len(extra) + len(lost)
