"""Diff-driven fixture iteration helper.

Usage: python tools/fixcheck.py <fixture-name> [--ref] [--full]
Shows unified diff of our markdown vs expected; --ref also runs the compiled
reference binary for three-way comparison.
"""
import json, os, subprocess, sys, difflib
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from trek_spark.extract.pipeline import trek_parse
from trek_spark.fixtures import load_fixtures

name = sys.argv[1]
fx = [f for f in load_fixtures() if f.name == name][0]
r = trek_parse(fx.html, fx.url)
act = (r["content_markdown"] or "").strip()
exp = (fx.expected_markdown or "").strip()
print("MATCH" if act == exp else "DIFF (expected vs actual):")
n = None if "--full" in sys.argv else 80
if act != exp:
    diff = list(difflib.unified_diff(exp.splitlines(), act.splitlines(), "expected", "actual", lineterm=""))
    print("\n".join(diff[:n] if n else diff))
if "--ref" in sys.argv:
    out = subprocess.run(["/root/reference/target/release/examples/extract_file",
                          f"/root/reference/tests/fixtures/{name}.html", fx.url],
                         capture_output=True, text=True)
    ref = json.loads(out.stdout)
    refmd = (ref["content_markdown"] or "").strip()
    print("REF==EXPECTED:", refmd == exp)
    if refmd != exp:
        diff = list(difflib.unified_diff(exp.splitlines(), refmd.splitlines(), "expected", "reference", lineterm=""))
        print("\n".join(diff[:40]))
