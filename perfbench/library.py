"""The library path: ``extract_one`` over the same turns in a process pool,
plus the document-phase tracer installed around the pipeline's public
functions.

Pool workers are spawned fresh and import the program from the checkout
root they are given. With tracing on, each worker patches every phase
function under the name its caller looks it up by (for example
``trek_spark.extract.pipeline.parse_html``), records one span per call
(document, name, start, end, parent) in memory, and returns the spans with
each chunk's results. Self times are computed by the parent from the spans.
"""

from __future__ import annotations

import multiprocessing
import sys
import time

from check import md5_text

# (module, attribute, phase). The attribute is patched on the module the
# caller resolves it from at call time.
PHASES = (
    ("trek_spark.extract.pipeline", "parse_html", "dom.parse"),
    ("trek_spark.extract.pipeline", "collect_from_dom", "extract.head_scan"),
    ("trek_spark.extract.pipeline", "extract_metadata", "extract.metadata"),
    ("trek_spark.extract.extractors", "try_extractors", "extract.extractors"),
    ("trek_spark.extract.passes", "remove_clutter", "extract.clutter"),
    ("trek_spark.extract.passes", "extract_body_substring", "extract.std"),
    ("trek_spark.extract.passes", "find_entry_point", "extract.std"),
    ("trek_spark.extract.passes", "remove_comments", "extract.std"),
    ("trek_spark.extract.passes", "rewrite_embed_iframes", "extract.std"),
    ("trek_spark.extract.passes", "remove_empty_elements", "extract.std"),
    ("trek_spark.extract.passes", "flatten_wrapper_elements_legacy",
     "extract.std"),
    ("trek_spark.extract.passes", "selectors_pass", "extract.std"),
    ("trek_spark.extract.passes", "hidden_pass", "extract.std"),
    ("trek_spark.extract.passes", "flatten_wrappers", "extract.std"),
    ("trek_spark.extract.passes", "promote_semantics", "extract.std"),
    ("trek_spark.extract.passes", "relative_urls", "extract.std"),
    ("trek_spark.extract.passes", "figure_image", "extract.std"),
    ("trek_spark.extract.passes", "footnotes_std", "extract.std"),
    ("trek_spark.extract.passes", "tables_std", "extract.std"),
    ("trek_spark.extract.passes", "headings_std", "extract.std"),
    ("trek_spark.extract.elements", "code_blocks", "extract.code_blocks"),
    ("trek_spark.extract.elements", "normalize_code_blocks",
     "extract.code_blocks"),
    ("trek_spark.extract.elements", "convert_math_tex_scripts",
     "extract.elements"),
    ("trek_spark.extract.elements", "normalize_callouts", "extract.elements"),
    ("trek_spark.extract.elements", "_convert_margin_footnotes",
     "extract.elements"),
    ("trek_spark.extract.elements", "normalize_all", "extract.elements"),
    ("trek_spark.extract.removals_post", "run_post",
     "extract.removals_post"),
    ("trek_spark.extract.pipeline", "node_to_markdown", "extract.markdown"),
    ("trek_spark.extract.pipeline", "node_to_text", "extract.text"),
    ("trek_spark.extract.pipeline", "html_to_text", "extract.text"),
    ("trek_spark.spark.udf", "extract_pdf_one", "extract.pdf"),
    ("trek_spark.spark.udf", "compute_content_spans", "udf.spans"),
    ("trek_spark.spark.udf", "trek_parse", "extract.other"),
)

#: phase names whose self times add up to the document time; the document
#: root's own self time (``extract_one`` around ``trek_parse``) counts as
#: ``extract.other`` together with ``trek_parse``'s self time.
PHASE_NAMES = tuple(dict.fromkeys(p for _, _, p in PHASES))
DOC = "doc"


class Tracer:
    """In-memory span recorder for one worker process."""

    def __init__(self):
        self.spans: list[tuple] = []   # (doc, id, parent, name, t0, t1)
        self.stack: list[int] = []
        self.doc = -1
        self.extractor_calls = 0
        self.extractor_hits = 0
        self.cleanup_passes: dict[int, int] = {}

    def span(self, name, fn, *a, **k):
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else -1
        self.spans.append(None)
        self.stack.append(sid)
        t0 = time.perf_counter_ns()
        try:
            return fn(*a, **k)
        finally:
            t1 = time.perf_counter_ns()
            self.stack.pop()
            self.spans[sid] = (self.doc, sid, parent, name, t0, t1)

    def take(self) -> list[tuple]:
        out, self.spans = self.spans, []
        return out


_TRACER: Tracer | None = None


def _wrap(mod, attr: str, name: str, tracer: Tracer) -> None:
    fn = getattr(mod, attr)

    def traced(*a, **k):
        return tracer.span(name, fn, *a, **k)

    traced.__wrapped__ = fn
    setattr(mod, attr, traced)


def install_tracer() -> Tracer:
    """Patch every phase function of PHASES plus the two counters."""
    import importlib

    tracer = Tracer()
    for modname, attr, name in PHASES:
        _wrap(importlib.import_module(modname), attr, name, tracer)

    ex = importlib.import_module("trek_spark.extract.extractors")
    traced_try = ex.try_extractors

    def counting_try(*a, **k):
        tracer.extractor_calls += 1
        res = traced_try(*a, **k)
        tracer.extractor_hits += res is not None
        return res

    ex.try_extractors = counting_try

    pipeline = importlib.import_module("trek_spark.extract.pipeline")
    parse_once = pipeline._parse_once

    def counting_parse_once(*a, **k):
        tracer.cleanup_passes[tracer.doc] = (
            tracer.cleanup_passes.get(tracer.doc, 0) + 1)
        return parse_once(*a, **k)

    pipeline._parse_once = counting_parse_once
    return tracer


def init_worker(root: str, trace: bool) -> None:
    global _TRACER
    sys.path.insert(0, root)
    import trek_spark.spark.udf  # noqa: F401  (import cost paid here)
    if trace:
        _TRACER = install_tracer()


def error_class(error) -> str | None:
    """Error class of a result's ``error`` field: None, a short class name
    the program returns verbatim, or ``exception`` for a traceback."""
    if error is None:
        return None
    if error.startswith("Traceback"):
        return "exception"
    return error


def run_chunk(chunk: list[tuple]) -> tuple[list[tuple], list[tuple], dict]:
    """Extract a chunk of (idx, text, url, tool) turns. Returns per-turn
    (idx, md5, extractor_type, title, error_class, ns, extracted_text), the
    spans recorded (empty without tracing) and the tracer's counters."""
    from trek_spark.spark import udf

    out = []
    tr = _TRACER
    for idx, text, url, tool in chunk:
        url = url if isinstance(url, str) else None
        t0 = time.perf_counter_ns()
        if tr is not None:
            tr.doc = idx
            if tool == "pdf":
                r = tr.span(DOC, udf.extract_pdf_one, text)
            else:
                r = tr.span(DOC, udf.extract_one, text, url)
        elif tool == "pdf":
            r = udf.extract_pdf_one(text)
        else:
            r = udf.extract_one(text, url)
        ns = time.perf_counter_ns() - t0
        out.append((idx, md5_text(r["extracted_text"]), r["extractor_type"],
                    r["title"], error_class(r["error"]), ns,
                    r["extracted_text"]))
    if tr is None:
        return out, [], {}
    counters = {"extractor_calls": tr.extractor_calls,
                "extractor_hits": tr.extractor_hits,
                "cleanup_passes": dict(tr.cleanup_passes)}
    tr.extractor_calls = tr.extractor_hits = 0
    tr.cleanup_passes = {}
    return out, tr.take(), counters


class LibraryPool:
    """``nproc`` spawned worker processes running ``extract_one``."""

    def __init__(self, root: str, procs: int, trace: bool):
        ctx = multiprocessing.get_context("spawn")
        self.pool = ctx.Pool(procs, initializer=init_worker,
                             initargs=(root, trace))
        self.procs = procs

    def run(self, turns: list[tuple], chunk: int):
        """All turns through the pool, in chunks of ``chunk`` turns handed
        out largest input first, so that the wall follows the total
        document time rather than where the slowest pages happen to sit in
        the input. Returns (results by idx, spans, counters, wall
        seconds)."""
        turns = sorted(turns, key=lambda t: -len(t[1] or ""))
        chunks = [turns[i:i + chunk] for i in range(0, len(turns), chunk)]
        t0 = time.perf_counter()
        parts = self.pool.map(run_chunk, chunks, chunksize=1)
        wall = time.perf_counter() - t0
        results, spans = {}, []
        counters = {"extractor_calls": 0, "extractor_hits": 0,
                    "cleanup_passes": {}}
        for res, sp, cnt in parts:
            for row in res:
                results[row[0]] = row
            # span ids restart in every chunk: shift them to stay unique
            base = len(spans)
            spans.extend((doc, sid + base, parent + base if parent >= 0
                          else -1, name, t0, t1)
                         for doc, sid, parent, name, t0, t1 in sp)
            if cnt:
                counters["extractor_calls"] += cnt["extractor_calls"]
                counters["extractor_hits"] += cnt["extractor_hits"]
                counters["cleanup_passes"].update(cnt["cleanup_passes"])
        return results, spans, counters, wall

    def close(self, finished: bool = True) -> None:
        """Join the workers; stop them at once when the run did not
        finish."""
        if finished:
            self.pool.close()
        else:
            self.pool.terminate()
        self.pool.join()


def self_times(spans: list[tuple]) -> dict[str, dict[int, int]]:
    """Per-phase, per-document self time in ns: a span's duration minus the
    durations of its direct children. The document root's self time is
    folded into ``extract.other``."""
    child_ns: dict[int, int] = {}
    for doc, sid, parent, name, t0, t1 in spans:
        if parent >= 0:
            child_ns[parent] = child_ns.get(parent, 0) + (t1 - t0)
    out: dict[str, dict[int, int]] = {p: {} for p in PHASE_NAMES}
    for doc, sid, parent, name, t0, t1 in spans:
        phase = "extract.other" if name == DOC else name
        own = (t1 - t0) - child_ns.get(sid, 0)
        per_doc = out[phase]
        per_doc[doc] = per_doc.get(doc, 0) + own
    return out
