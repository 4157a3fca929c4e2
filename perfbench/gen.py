"""Seeded, stdlib-only input generators for the benchmark workloads.

Every generator takes a ``random.Random`` (or a seed) and returns plain
Python rows; nothing here imports the program under test. Each extraction
row carries its planted expectations next to the input columns:

* ``main`` — marker tokens planted in content that must survive extraction;
* ``clutter`` — marker tokens planted in page chrome that must be removed;
* ``extractor`` / ``title`` — the site extractor that must claim the page
  (``None`` for the generic path) and the title it must report
  (``None`` when the generator makes no claim);
* ``error`` — the expected error class (``None`` or ``"empty_input"``).

Marker tokens are lowercase alphanumerics (``zqm…``/``zqc…``) so markdown
escaping never splits them.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import itertools
import json
import math
import random
import zlib
from statistics import NormalDist

TRANSCRIPT_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts",
                      "url")

_EPOCH = dt.datetime(2024, 1, 1)

# Fixed pseudo-word vocabulary, identical for every seed: 20 x 20 x 6
# syllable products, none of which collides with a marker prefix.
_ONSETS = "b c d f g h j k l m n p r s t v w y br st".split()
_NUCLEI = "a e i o u ai ea ou io ei oa ie ua oe au ee ui aa ae ao".split()
_CODAS = ["", "n", "r", "s", "l", "t"]
VOCAB = [o + n + c for o, n, c in itertools.product(_ONSETS, _NUCLEI, _CODAS)]


def words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def sentence(rng: random.Random, lo: int = 8, hi: int = 18) -> str:
    s = words(rng, rng.randint(lo, hi))
    return s[0].upper() + s[1:] + "."


def title_text(rng: random.Random) -> str:
    return " ".join(w.capitalize() for w in
                    (rng.choice(VOCAB) for _ in range(rng.randint(3, 7))))


class Markers:
    """Unique marker tokens for one document."""

    def __init__(self, uid: int):
        self.uid = uid
        self.main: list[str] = []
        self.clutter: list[str] = []

    def m(self) -> str:
        tok = f"zqm{self.uid:06x}x{len(self.main)}"
        self.main.append(tok)
        return tok

    def c(self) -> str:
        tok = f"zqc{self.uid:06x}x{len(self.clutter)}"
        self.clutter.append(tok)
        return tok


# --------------------------------------------------------------- articles

def _para(rng, mk: Markers, marked: bool) -> str:
    body = " ".join(sentence(rng) for _ in range(rng.randint(3, 6)))
    if marked:
        cut = body.find(" ", len(body) // 2)
        body = f"{body[:cut]} {mk.m()}{body[cut:]}"
    return f"<p>{body}</p>"


def _table(rng, mk: Markers) -> str:
    head = "".join(f"<th>{rng.choice(VOCAB).capitalize()}</th>"
                   for _ in range(3))
    rows = []
    for r in range(rng.randint(3, 6)):
        cells = [words(rng, 2) for _ in range(3)]
        if r == 1:
            cells[1] = f"{cells[1]} {mk.m()}"
        rows.append("<tr>" + "".join(f"<td>{c}</td>" for c in cells)
                    + "</tr>")
    return (f"<table><thead><tr>{head}</tr></thead><tbody>"
            + "".join(rows) + "</tbody></table>")


def _list(rng, mk: Markers) -> str:
    tag = rng.choice(("ul", "ol"))
    items = [sentence(rng, 4, 10) for _ in range(rng.randint(3, 6))]
    items[0] = f"{items[0][:-1]} {mk.m()}."
    return f"<{tag}>" + "".join(f"<li>{i}</li>" for i in items) + f"</{tag}>"


def _callout(rng, mk: Markers) -> str:
    kind = rng.choice(("note", "tip", "warning"))
    return (f'<blockquote><p>{sentence(rng)} {mk.m()} '
            f'{sentence(rng)}</p></blockquote>'
            if rng.random() < 0.5 else
            f'<div class="callout" data-callout="{kind}">'
            f'<div class="callout-title">{kind.capitalize()}</div>'
            f'<div class="callout-content"><p>{sentence(rng)} {mk.m()}'
            f'</p></div></div>')


def _short_code(rng, mk: Markers) -> str:
    lines = [f"def {rng.choice(VOCAB)}{i}(x):\n    return x + {i}"
             for i in range(rng.randint(1, 3))]
    lines.append(f"# {mk.m()}")
    return ('<pre><code class="language-python">' + "\n".join(lines)
            + "</code></pre>")


def _figure(rng, n: int) -> str:
    src = f"https://cdn.example.org/img/{n}/{rng.randrange(10**6)}.jpg"
    return (f'<figure><img src="{src}" alt="{words(rng, 3)}" width="640" '
            f'height="360"><figcaption>{sentence(rng, 4, 8)}</figcaption>'
            '</figure>' if rng.random() < 0.6 else
            f'<p><noscript><img src="{src}" width="640" height="360">'
            '</noscript></p>')


def _highlighted_code(rng, mk: Markers, n_spans: int) -> str:
    """One highlighter block of ``n_spans`` token spans (the tail shape)."""
    kinds = ("k", "n", "o", "s", "mi", "p", "nf")
    parts = []
    for i in range(n_spans):
        parts.append(f'<span class="{rng.choice(kinds)}">'
                     f'{rng.choice(VOCAB)}</span>')
        parts.append("\n" if i % 12 == 11 else " ")
    parts.append(f'<span class="c"># {mk.m()}</span>')
    return ('<div class="highlight"><pre><code class="language-python">'
            + "".join(parts) + "</code></pre></div>")


def _chrome_head(rng, mk: Markers, site: str) -> str:
    nav = "".join(f'<li><a href="/{w}">{w.capitalize()}</a></li>'
                  for w in (rng.choice(VOCAB) for _ in range(5)))
    return (
        '<div id="cookie-banner" class="cookie-banner cookie-consent">'
        f'<p>We use cookies {mk.c()} to improve your experience.</p>'
        '<button>Accept</button></div>'
        '<header class="site-header"><nav class="navbar">'
        f'<a class="logo" href="/">{site}</a><ul class="nav-menu">{nav}'
        f'<li><a href="/about">About {mk.c()}</a></li></ul></nav></header>')


def _chrome_tail(rng, mk: Markers) -> str:
    related = "".join(f'<li><a href="/p/{rng.randrange(10**5)}">'
                      f'{title_text(rng)}</a></li>' for _ in range(4))
    return (
        '<aside class="sidebar"><h3>Related posts</h3><ul class="related">'
        f'{related}<li><a href="/p/x">More {mk.c()}</a></li></ul></aside>'
        '<footer class="site-footer"><p>Copyright 2024 '
        f'{mk.c()}. All rights reserved.</p><ul class="footer-links">'
        '<li><a href="/privacy">Privacy</a></li><li><a href="/terms">Terms'
        '</a></li></ul></footer>')


def _share(mk: Markers) -> str:
    return ('<div class="share-buttons social-share">'
            f'<a href="https://twitter.com/intent/tweet">Share {mk.c()}</a>'
            '<a href="https://facebook.com/sharer">Facebook</a></div>')


def article_page(rng: random.Random, uid: int, target_bytes: int,
                 tail_spans: int = 0) -> tuple[str, str, dict]:
    """A generic article with chrome. Returns (url, html, expectations)."""
    mk = Markers(uid)
    site = rng.choice(VOCAB).capitalize() + " Journal"
    title = title_text(rng)
    slug = title.lower().replace(" ", "-")
    url = f"https://{site.split()[0].lower()}.example.com/posts/{slug}"
    body: list[str] = [f"<h1>{title}</h1>",
                       f'<p class="byline">By {title_text(rng)}</p>']
    fn_refs: list[str] = []
    size = 1200
    block = 0
    while size < target_bytes or block < 4:
        r = rng.random()
        if block % 5 == 0:
            part = f"<h2>{title_text(rng)}</h2>" + _para(rng, mk, True)
        elif r < 0.55:
            part = _para(rng, mk, block % 2 == 0)
        elif r < 0.65:
            part = _list(rng, mk)
        elif r < 0.72:
            part = _table(rng, mk)
        elif r < 0.78:
            part = _callout(rng, mk)
        elif r < 0.84:
            part = _short_code(rng, mk)
        elif r < 0.92:
            part = _figure(rng, block)
        else:
            n = len(fn_refs) + 1
            fn_refs.append(f'<li id="fn{n}"><p>{sentence(rng, 5, 9)} '
                           f'{mk.m()} <a href="#fnref{n}">↩</a></p></li>')
            part = (f"<p>{sentence(rng)} {sentence(rng)}<sup id=\"fnref{n}\">"
                    f'<a href="#fn{n}">{n}</a></sup></p>')
        body.append(part)
        size += len(part)
        block += 1
    if tail_spans:
        body.insert(len(body) // 2, _highlighted_code(rng, mk, tail_spans))
    if fn_refs:
        body.append('<section class="footnotes"><ol>' + "".join(fn_refs)
                    + "</ol></section>")
    html = (
        '<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
        f"<title>{title}</title>"
        f'<meta property="og:title" content="{title}">'
        f'<meta property="og:site_name" content="{site}">'
        '</head><body>' + _chrome_head(rng, mk, site)
        + '<main><article class="post">' + "".join(body) + _share(mk)
        + "</article>" + _chrome_tail(rng, mk) + "</main></body></html>")
    return url, html, {"main": mk.main, "clutter": mk.clutter,
                       "extractor": None, "title": title, "error": None}


def _msg_html(rng, mk: Markers) -> str:
    out = [f"<p>{sentence(rng)} {mk.m()} {sentence(rng)}</p>"]
    if rng.random() < 0.5:
        out.append("<ul>" + "".join(f"<li>{sentence(rng, 3, 7)}</li>"
                                    for _ in range(3)) + "</ul>")
    return "".join(out)


def _grow(target: int, make) -> list[str]:
    """Call ``make(i)`` until the parts reach ``target`` bytes (at least
    two parts)."""
    parts: list[str] = []
    size = 0
    while size < target or len(parts) < 2:
        part = make(len(parts))
        parts.append(part)
        size += len(part)
    return parts


def chatgpt_page(rng, uid, target):
    mk = Markers(uid)
    sid = hashlib.md5(f"cg{uid}".encode()).hexdigest()
    first = sentence(rng, 5, 9)

    def turn(i):
        q = first if i == 0 else sentence(rng, 5, 12)
        return (
            '<div data-message-author-role="user"><div class="whitespace-pre-wrap">'
            f"{q} {mk.m()}</div></div>"
            '<div data-message-author-role="assistant"><div class="markdown prose">'
            f"{_msg_html(rng, mk)}</div></div>")

    html = ('<html><head><title>ChatGPT</title></head><body>'
            '<nav class="sidebar">History</nav><main>'
            + "".join(_grow(target, turn))
            + "</main></body></html>")
    return (f"https://chatgpt.com/share/{sid}", html,
            {"main": mk.main, "clutter": [], "extractor": "chatgpt",
             "title": f"{first} {mk.main[0]}", "error": None})


def claude_page(rng, uid, target):
    mk = Markers(uid)
    sid = hashlib.md5(f"cl{uid}".encode()).hexdigest()
    first = sentence(rng, 5, 9)

    def turn(i):
        q = first if i == 0 else sentence(rng, 5, 12)
        return (f'<div data-testid="user-message"><p>{q} {mk.m()}</p></div>'
                '<div data-testid="assistant-message">'
                '<div class="standard-markdown">'
                f"{_msg_html(rng, mk)}</div></div>")

    html = ('<html><head><title>Claude</title></head><body><main>'
            + "".join(_grow(target, turn)) + "</main></body></html>")
    return (f"https://claude.ai/share/{sid}", html,
            {"main": mk.main, "clutter": [], "extractor": "claude",
             "title": f"{first} {mk.main[0]}", "error": None})


def hackernews_page(rng, uid, target):
    mk = Markers(uid)
    item = 30_000_000 + uid
    title = title_text(rng)

    def comment(c):
        depth = 0 if c == 0 else rng.randint(0, 2)
        return (
            f'<tr class="athing comtr" id="{item + c + 1}"><td><table><tr>'
            f'<td class="ind"><img src="s.gif" height="1" width="{depth * 40}">'
            '</td><td class="default"><div><span class="comhead">'
            f'<a class="hnuser" href="user?id=u{c}">u{c}</a> '
            f'<span class="age" title="2024-05-0{c % 9 + 1}T10:00:00">'
            f'<a href="item?id={item + c + 1}">1 hour ago</a></span></span>'
            f'</div><div class="comment"><div class="commtext c00">'
            f"{sentence(rng)} {mk.m()} {sentence(rng)}</div></div></td></tr>"
            "</table></td></tr>")

    rows = _grow(target, comment)
    html = (
        f"<html><head><title>{title} | Hacker News</title></head><body>"
        '<center><table id="hnmain"><tr><td><table class="fatitem">'
        f'<tr class="athing submission" id="{item}"><td class="title">'
        f'<span class="titleline"><a href="https://example.org/{uid}">'
        f"{title}</a></span></td></tr><tr><td class=\"subtext\">"
        f'<span class="score">{rng.randint(2, 500)} points</span> by '
        f'<a class="hnuser" href="user?id=op">op{uid % 97}</a> '
        '<span class="age" title="2024-05-01T09:00:00">2 hours ago</span>'
        '</td></tr></table><table class="comment-tree">' + "".join(rows)
        + "</table></td></tr></table></center></body></html>")
    return (f"https://news.ycombinator.com/item?id={item}", html,
            {"main": mk.main, "clutter": [], "extractor": "hackernews",
             "title": title, "error": None})


def reddit_page(rng, uid, target):
    mk = Markers(uid)
    sub = rng.choice(VOCAB)
    title = title_text(rng)

    def comment(c):
        return (
            f'<div class="thing comment" data-author="r{c}" '
            f'data-permalink="/r/{sub}/comments/{uid}/c{c}/">'
            '<p class="tagline"><span class="score">3 points</span> '
            f'<time datetime="2024-03-0{c % 9 + 1}T12:00:00+00:00">x</time>'
            f'</p><div class="md"><p>{sentence(rng)} {mk.m()}</p></div>'
            '</div>')

    comments = _grow(target, comment)
    html = (
        f"<html><head><title>{title} : {sub}</title></head><body>"
        f'<div class="thing link" data-author="poster{uid % 89}" '
        f'data-subreddit="{sub}"><a class="title" href="/r/{sub}/{uid}">'
        f"{title}</a>"
        f'<div class="md"><p>{sentence(rng)} {mk.m()}</p></div></div>'
        '<div class="commentarea">' + "".join(comments)
        + "</div></body></html>")
    return (f"https://old.reddit.com/r/{sub}/comments/{uid}/x/", html,
            {"main": mk.main, "clutter": [], "extractor": "reddit",
             "title": title, "error": None})


def github_issue_page(rng, uid, target):
    mk = Markers(uid)
    owner, repo = rng.choice(VOCAB), rng.choice(VOCAB)
    title = title_text(rng)
    body = _grow(target, lambda i: _short_code(rng, mk) if i % 4 == 3
                 else f"<p>{sentence(rng)} {mk.m()} {sentence(rng)}</p>")
    html = (
        f'<html><head><title>{title}</title>'
        f'<meta property="og:title" content="{title}"></head><body>'
        '<div data-testid="issue-viewer-issue-container">'
        f'<a data-testid="issue-body-header-author" href="/dev{uid % 50}">'
        f"dev{uid % 50}</a>"
        '<relative-time datetime="2024-02-03T04:05:06Z">Feb 3</relative-time>'
        '<div data-testid="issue-body-viewer"><div class="markdown-body">'
        + "".join(body) + "</div></div></div></body></html>")
    return (f"https://github.com/{owner}/{repo}/issues/{uid % 9000 + 1}", html,
            {"main": mk.main, "clutter": [], "extractor": "github",
             "title": title, "error": None})


_SITE_PAGES = (chatgpt_page, claude_page, hackernews_page, reddit_page,
               github_issue_page)


def _page_sizes(rng: random.Random, n: int) -> list[int]:
    """``n`` page sizes at evenly spaced quantiles of a log-normal (median
    10 KB, clipped to 2-80 KB), shuffled: every seed gets the same sizes in
    a different order."""
    dist = NormalDist(math.log(10_000), 0.75)
    sizes = [int(min(80_000, max(2_000, math.exp(dist.inv_cdf(
        (k + 0.5) / n))))) for k in range(n)]
    rng.shuffle(sizes)
    return sizes


def articles(seed: int, n: int, stream: int = 0,
             turns_per_conv: int = 8) -> list[dict]:
    """The ``articles`` workload: ~88% generic pages, ~10% site-extractor
    pages, ~1% pages carrying one 1-2k-span highlighted code block and ~1%
    ``tool='pdf'`` turns carrying a small generated PDF (exact shares of
    ``n``). ``stream`` selects an independent batch for the same seed."""
    rng = random.Random(f"articles:{seed}:{stream}")
    rows = []
    n_tail = max(1, round(n * 0.01))
    n_pdf = max(1, round(n * 0.01))
    n_site = round(n * 0.10)
    kinds = (["tail"] * n_tail + ["pdf"] * n_pdf + ["site"] * n_site
             + ["article"] * (n - n_tail - n_pdf - n_site))
    rng.shuffle(kinds)
    sizes = _page_sizes(rng, n)
    # tail blocks evenly spread over 1,000-2,000 spans
    spans = [1000 + (1000 * k + 500) // n_tail for k in range(n_tail)]
    for i, kind in enumerate(kinds):
        uid = (seed * 1_000_003 + stream * 100_000) % 10_000_000 + i
        conv = f"a{seed}.{stream}-{i // turns_per_conv:05d}"
        if kind == "pdf":
            text, exp = pdf_turn(rng, Markers(uid))
            rows.append(_turn(conv, i % turns_per_conv, "tool", text, "pdf",
                              None, exp, i))
            continue
        if kind == "site":
            url, html, exp = _SITE_PAGES[i % len(_SITE_PAGES)](rng, uid,
                                                               sizes[i])
        else:
            url, html, exp = article_page(
                rng, uid, sizes[i],
                tail_spans=spans.pop() if kind == "tail" else 0)
        rows.append(_turn(conv, i % turns_per_conv, "tool", html, "browser",
                          url, exp, i))
    return rows


# --------------------------------------------------------------- pdf turns

def simple_pdf(lines: list[str], compress: bool) -> bytes:
    """A one-page PDF with one Helvetica text line per baseline."""
    ops = ["BT", "/F1 11 Tf"]
    for k, line in enumerate(lines):
        ops.append(f"1 0 0 1 72 {760 - 14 * k} Tm ({line}) Tj")
    ops.append("ET")
    stream = "\n".join(ops).encode("latin-1")
    filt = ""
    if compress:
        stream, filt = zlib.compress(stream), " /Filter /FlateDecode"
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
            f"<< /Length {len(stream)}{filt} >>".encode() + b"\nstream\n"
            + stream + b"\nendstream",
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for k, obj in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{k} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    out += b"".join(f"{o:010d} 00000 n \n".encode() for o in offsets)
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    return bytes(out)


def pdf_turn(rng: random.Random, mk: Markers) -> tuple[str, dict]:
    """(text, expectations) of a ``tool='pdf'`` turn: a small generated PDF,
    raw (latin-1) or base64, with one main marker per text line."""
    lines = [f"{words(rng, 6)} {mk.m()}" for _ in range(rng.randint(2, 6))]
    pdf = simple_pdf(lines, compress=rng.random() < 0.5)
    text = (pdf.decode("latin-1") if rng.random() < 0.5
            else base64.b64encode(pdf).decode("ascii"))
    return text, {"main": mk.main, "clutter": [], "extractor": "pdf-layout",
                  "title": None, "error": None}


# -------------------------------------------------------------- chat_turns

def _zipf_lengths(rng: random.Random, n_turns: int) -> list[int]:
    """Conversation lengths: one hot conversation with ~10% of the turns,
    the rest Zipf-distributed (exponent 1.3, capped at 200 turns)."""
    hot = n_turns // 10
    lengths = [hot]
    left = n_turns - hot
    while left > 0:
        u = 1.0 - rng.random()
        k = min(200, int(u ** (-1 / 1.3)) + 1, left)
        lengths.append(k)
        left -= k
    return lengths


def chat_turn(rng: random.Random, uid: int, role: str) -> tuple:
    """(role, text, tool, expectations) for one short transcript turn."""
    mk = Markers(uid)
    r = rng.random()
    if r < 0.01:
        return role, rng.choice(("", "   ", None)), None, {
            "main": [], "clutter": [], "extractor": None, "title": None,
            "error": "empty_input"}
    if r < 0.02:
        text, exp = pdf_turn(rng, mk)
        return "tool", text, "pdf", exp
    if role == "user":
        text = " ".join(sentence(rng, 4, 14)
                        for _ in range(rng.randint(1, 4)))
        text = f"{text} {mk.m()}"
        tool = None
    elif role == "assistant":
        parts = [f"<p>{sentence(rng)} {mk.m()} {sentence(rng)}</p>"]
        for _ in range(rng.randint(0, 4)):
            x = rng.random()
            if x < 0.4:
                parts.append(f"<p>{sentence(rng)} {sentence(rng)}</p>")
            elif x < 0.75:
                parts.append("<ul>" + "".join(
                    f"<li>{sentence(rng, 3, 8)}</li>"
                    for _ in range(rng.randint(2, 5))) + "</ul>")
            else:
                parts.append(
                    f"<pre><code>x = {rng.randrange(999)}\n"
                    f"print(x)  # {mk.m()}</code></pre>")
        text, tool = "".join(parts), None
    else:
        payload = {"tool": rng.choice(("search", "calc", "fetch")),
                   "ok": True, "note": mk.m(),
                   "items": [words(rng, 4) for _ in range(rng.randint(1, 6))]}
        text, tool = json.dumps(payload), "json"
    return role, text, tool, {
        "main": mk.main, "clutter": [], "extractor": None, "title": None,
        "error": None}


def chat_turns(seed: int, n: int) -> list[dict]:
    """The ``chat_turns`` workload: many short turns in Zipf-length
    conversations with one hot conversation holding ~10% of the turns."""
    rng = random.Random(f"chat:{seed}")
    rows = []
    i = 0
    roles = ("user", "assistant", "assistant", "tool")
    for c, length in enumerate(_zipf_lengths(rng, n)):
        for t in range(length):
            uid = seed * 1_000_003 % 10_000_000 + i
            role, text, tool, exp = chat_turn(rng, uid, roles[t % 4])
            rows.append(_turn(f"c{seed}-{c:05d}", t, role, text, tool, None,
                              exp, i))
            i += 1
    return rows


def _turn(conv_id, turn_idx, role, text, tool, url, exp, i) -> dict:
    return {"conv_id": conv_id, "turn_idx": turn_idx, "role": role,
            "text": text, "tool": tool,
            "ts": _EPOCH + dt.timedelta(seconds=37 * i), "url": url,
            "expect": exp}


# ------------------------------------------------------------------ curate

BENCH_DOCS = 25          # doc_id < 25 is the decontamination eval set
LANGS = ("en", "en", "en", "en", "zh", "es", "fr", "de")
SAMPLE_CEILINGS = {"en": "1999", "zh": "8000", "es": "8000", "de": "8000",
                   "fr": "8000"}


def sample_keep(doc_id: int, lang: str) -> bool:
    """The curation job's documented stratified-sample rule: the first four
    hex digits of md5('sample:<doc_id>') compare below a per-language
    ceiling string."""
    tick = hashlib.md5(f"sample:{doc_id}".encode()).hexdigest()[:4]
    return tick < SAMPLE_CEILINGS.get(lang, "4000")


def curate_docs(seed: int, n: int) -> tuple[list[dict], dict]:
    """A ``documents`` table shaped like the curation job's input, with
    planted near-duplicate families, repetition spam and benchmark leaks.

    Returns (rows, plan) where ``plan`` names the ids each stage must drop.
    Random text draws from a 2,400-word vocabulary, so no unplanted pair of
    documents shares enough 3-grams or 5-grams to trip a gate."""
    rng = random.Random(f"curate:{seed}")
    texts: list[str | None] = [None] * n
    spam: set[int] = set()
    leaks: set[int] = set()
    families: list[list[int]] = []
    free = list(range(BENCH_DOCS, n))
    rng.shuffle(free)
    for d in range(BENCH_DOCS):
        texts[d] = words(rng, rng.randint(40, 90))
    n_fam = n // 40
    for f in range(n_fam):
        members = sorted(free.pop() for _ in range(2 + f % 3))
        base = words(rng, rng.randint(60, 100)).split()
        for m in members:
            w = list(base)
            for _ in range(2):            # light edits keep jaccard >= 0.5
                w[rng.randrange(len(w))] = rng.choice(VOCAB)
            texts[m] = " ".join(w)
        families.append(members)
    for _ in range(n // 50):
        d = free.pop()
        phrase = words(rng, rng.randint(3, 6))
        texts[d] = " ".join([phrase] * rng.randint(8, 20))
        spam.add(d)
    for _ in range(n // 100):
        d = free.pop()
        src = texts[rng.randrange(BENCH_DOCS)].split()
        at = rng.randrange(len(src) - 12)
        texts[d] = (words(rng, rng.randint(20, 40)) + " "
                    + " ".join(src[at:at + 12]) + " "
                    + words(rng, rng.randint(20, 40)))
        leaks.add(d)
    for d in free:
        texts[d] = words(rng, rng.randint(30, 110))
    rows = []
    for d, text in enumerate(texts):
        # language by position: the stratified sample keeps the same
        # doc ids for every seed
        rows.append({"doc_id": d, "text": text, "lang": LANGS[d % 8],
                     "source": f"src{d % 20}", "n_chars": len(text)})
    dup_losers = {m for fam in families for m in fam[1:]}
    return rows, {"spam": spam, "dup_losers": dup_losers, "leaks": leaks,
                  "families": families}


def curate_expectation(rows: list[dict], plan: dict) -> dict:
    """Expected ledger and survivor ids of the default curation stages:
    repetition gate → near-dup collapse → sample → decontaminate."""
    n_in = len(rows)
    alive = [r for r in rows if r["doc_id"] not in plan["spam"]]
    after_rep = len(alive)
    alive = [r for r in alive if r["doc_id"] not in plan["dup_losers"]]
    after_dedup = len(alive)
    alive = [r for r in alive if sample_keep(r["doc_id"], r["lang"])]
    after_sample = len(alive)
    alive = [r for r in alive if r["doc_id"] >= BENCH_DOCS
             and r["doc_id"] not in plan["leaks"]]
    by_lang: dict[str, int] = {}
    for r in alive:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    return {
        "ledger": {"docs_in": n_in,
                   "repetition_dropped": n_in - after_rep,
                   "dedup_dropped": after_rep - after_dedup,
                   "sample_dropped": after_dedup - after_sample,
                   "decontaminate_dropped": after_sample - len(alive),
                   "docs_out": len(alive),
                   "out_by_lang": dict(sorted(by_lang.items()))},
        "doc_ids": sorted(r["doc_id"] for r in alive),
    }
