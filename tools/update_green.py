"""Regenerate tests/markdown_green.json from the current pass set.

Refuses to shrink: every fixture already on the green list must still be
byte-exact (the ratchet), so run the suite first if unsure.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from trek_spark.extract.pipeline import trek_parse
from trek_spark.fixtures import load_fixtures

path = os.path.join(os.path.dirname(__file__), "..", "tests",
                    "markdown_green.json")
with open(path) as f:
    old = set(json.load(f))

green = []
for fx in load_fixtures():
    if fx.expected_markdown is None:
        continue
    r = trek_parse(fx.html, fx.url)
    if (r["content_markdown"] or "").strip() == fx.expected_markdown.strip():
        green.append(fx.name)

lost = old - set(green)
if lost:
    print("REFUSING to shrink green list; regressions:", sorted(lost))
    sys.exit(1)

with open(path, "w") as f:
    json.dump(sorted(green), f, indent=1)
print(f"green list: {len(old)} -> {len(green)}")
