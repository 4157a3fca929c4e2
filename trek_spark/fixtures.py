"""Golden-fixture corpus access.

Mirrors the reference harness rules (``tests/common/mod.rs:72-190``):
URL resolution from a ``<!-- {"url": ...} -->`` frontmatter comment else from
the filename minus its ``<category>--`` prefix; expected files split into a
fenced-JSON metadata preamble + markdown body; fuzzy metadata equality =
empty-tolerant 30-char case-insensitive containment.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from typing import Optional

FIXTURES_DIR = os.environ.get(
    "TREK_FIXTURES_DIR", "/root/reference/tests/fixtures"
)
EXPECTED_DIR = os.environ.get(
    "TREK_EXPECTED_DIR", "/root/reference/tests/expected"
)

_FRONTMATTER_RE = re.compile(r'<!--\s*(\{"url":.*?\})\s*-->')
_PREFIX_RE = re.compile(r"^[a-z]+--")


@dataclass
class Fixture:
    name: str
    html: str
    url: str
    expected_meta: Optional[dict]
    expected_markdown: Optional[str]

    @property
    def category(self) -> str:
        return self.name.split("--", 1)[0] if "--" in self.name else ""


def resolve_url(html: str, name: str) -> str:
    m = _FRONTMATTER_RE.search(html)
    if m:
        try:
            parsed = json.loads(m.group(1))
            u = parsed.get("url")
            if isinstance(u, str):
                return u
        except ValueError:
            pass
    return "https://" + _PREFIX_RE.sub("", name)


def split_expected(expected: str) -> tuple[Optional[dict], str]:
    trimmed = expected.lstrip()
    if not trimmed.startswith("```json\n"):
        return None, expected
    rest = trimmed[len("```json\n"):]
    end = rest.find("\n```")
    if end < 0:
        return None, expected
    json_str = rest[:end]
    after = rest[end + len("\n```"):].lstrip("\n")
    try:
        val = json.loads(json_str)
    except ValueError:
        return None, expected
    if isinstance(val, dict):
        return val, after
    return None, expected


def metadata_field_ok(actual: str, expected: str) -> bool:
    if not expected or not actual:
        return True
    a, e = actual.lower(), expected.lower()
    return (e[:30] in a) or (a[:30] in e)


def load_fixtures(limit: Optional[int] = None) -> list[Fixture]:
    if not os.path.isdir(FIXTURES_DIR):
        raise FileNotFoundError(
            f"reference corpus missing: {FIXTURES_DIR} "
            "(set TREK_FIXTURES_DIR)")
    names = sorted(
        f[:-5] for f in os.listdir(FIXTURES_DIR) if f.endswith(".html")
    )
    if limit:
        names = names[:limit]
    out = []
    for name in names:
        with open(os.path.join(FIXTURES_DIR, name + ".html"), encoding="utf-8",
                  errors="replace") as f:
            html = f.read()
        exp_path = os.path.join(EXPECTED_DIR, name + ".md")
        meta, body = None, None
        if os.path.exists(exp_path):
            with open(exp_path, encoding="utf-8", errors="replace") as f:
                meta, body = split_expected(f.read())
        out.append(Fixture(name=name, html=html, url=resolve_url(html, name),
                           expected_meta=meta, expected_markdown=body))
    return out
