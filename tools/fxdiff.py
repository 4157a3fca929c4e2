"""Print a unified diff of expected vs actual markdown for one fixture.

Usage: python tools/fxdiff.py <fixture-name-substring> [context-lines]
"""
import difflib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from trek_spark.extract.pipeline import trek_parse
from trek_spark.fixtures import load_fixtures

pat = sys.argv[1]
ctx = int(sys.argv[2]) if len(sys.argv) > 2 else 2
for fx in load_fixtures():
    if pat in fx.name and fx.expected_markdown is not None:
        r = trek_parse(fx.html, fx.url)
        act = (r["content_markdown"] or "").strip()
        exp = fx.expected_markdown.strip()
        print("====", fx.name, "exact" if act == exp else "DIFF")
        if act != exp:
            for line in difflib.unified_diff(exp.splitlines(),
                                             act.splitlines(),
                                             "expected", "actual",
                                             lineterm="", n=ctx):
                print(line)
