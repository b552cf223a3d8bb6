"""In-process span tracer for the per-document layers.

``extract_document`` reaches every per-doc layer through names bound in the
``contentextractor_spark.extractor`` module namespace.  ``Tracer.patched``
rebinds those names to timing wrappers for the duration of a replay, so the
program itself is untouched and untraced runs pay nothing.  Spans are kept
in memory as (name, start_ns, end_ns, parent, doc) and written out when the
replay ends.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from contentextractor_spark import extractor

# extractor-namespace name → layer
LAYER_OF = {
    "detect_charset": "charset",
    "java_decode": "charset",
    "change_charset": "charset",
    "meta_declared_charset": "charset",
    "parse_xml": "dom",
    "tag_filtering_dom": "tagfilter",
    "fused_parse": "fused",
    "textextract_parse": "textextract",
    "keyword_fold": "tokenize",
}
LAYERS = ("charset", "dom", "tagfilter", "fused", "textextract", "tokenize")
ROOT = "extractor"


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, int, int, int, int] | None] = []
        self.doc = -1
        self._stack: list[int] = []

    def wrap(self, fn, name: str):
        spans, stack, clock = self.spans, self._stack, time.perf_counter_ns

        def traced(*args, **kwargs):
            idx = len(spans)
            parent = stack[-1] if stack else -1
            spans.append(None)
            stack.append(idx)
            t0 = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = clock()
                stack.pop()
                spans[idx] = (name, t0, t1, parent, self.doc)

        return traced

    @contextmanager
    def patched(self):
        originals = {attr: getattr(extractor, attr) for attr in LAYER_OF}
        for attr, layer in LAYER_OF.items():
            setattr(extractor, attr, self.wrap(originals[attr], layer))
        try:
            yield
        finally:
            for attr, fn in originals.items():
                setattr(extractor, attr, fn)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, t0, t1, parent, doc) in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {"id": i, "name": name, "start_ns": t0, "end_ns": t1,
                         "parent": parent, "doc": doc}
                    )
                    + "\n"
                )


def replay(htmls: list[bytes]) -> tuple[Tracer, list, float, float]:
    """Run extract_document over ``htmls`` twice per doc, untraced and
    traced back to back (alternating which goes first), so drift in host
    speed cancels out of the overhead.  Returns the tracer, the traced
    results and the summed untraced and traced wall times (s)."""
    extract = extractor.extract_document
    for html in htmls[:50]:  # lazy imports, regex compilation
        extract(html)
    tracer = Tracer()
    root = tracer.wrap(extract, ROOT)
    results = []
    untraced = traced = 0.0
    clock = time.perf_counter
    for i, html in enumerate(htmls):
        tracer.doc = i
        for traced_turn in ((False, True) if i % 2 else (True, False)):
            if traced_turn:
                with tracer.patched():
                    t0 = clock()
                    results.append(root(html))
                    traced += clock() - t0
            else:
                t0 = clock()
                extract(html)
                untraced += clock() - t0
    return tracer, results, untraced, traced


def layer_metrics(tracer: Tracer, results: list, untraced_s: float, traced_s: float) -> dict:
    """Per-layer figures from the spans; a layer's self time is its span
    durations minus what its direct children cover."""
    spans = tracer.spans
    n_docs = len(results)
    self_ns = [t1 - t0 for _, t0, t1, _, _ in spans]
    for name, t0, t1, parent, _ in spans:
        if parent >= 0:
            self_ns[parent] -= t1 - t0
    by_layer = dict.fromkeys((ROOT, *LAYERS), 0)
    doc_ns: list[int] = []
    dom_parses = [0] * n_docs
    fused_docs, fallback_docs = set(), set()
    for (name, t0, t1, _, doc), own in zip(spans, self_ns):
        by_layer[name] += own
        if name == ROOT:
            doc_ns.append(t1 - t0)
        elif name == "dom":
            dom_parses[doc] += 1
        elif name == "fused":
            fused_docs.add(doc)
        elif name == "textextract":
            fallback_docs.add(doc)

    def per_doc_ms(ns: float) -> float:
        return ns / 1e6 / n_docs

    doc_ms = [ns / 1e6 for ns in doc_ns]
    m = {f"{layer}.ms_per_doc": per_doc_ms(by_layer[layer]) for layer in LAYERS}
    m.update(
        {
            "charset.redecode_frac": sum(p > 1 for p in dom_parses) / n_docs,
            "dom.parses_per_doc": sum(dom_parses) / n_docs,
            "fused.bail_frac": len(fallback_docs & fused_docs) / max(1, len(fused_docs)),
            "extractor.ms_per_doc": per_doc_ms(sum(doc_ns)),
            "extractor.self_ms_per_doc": per_doc_ms(by_layer[ROOT]),
            "extractor.doc_ms_p50": statistics.median(doc_ms),
            # the highest percentile with at least ten docs beyond it at 600 docs
            "extractor.doc_ms_p98": statistics.quantiles(doc_ms, n=50)[48],
            "extractor.error_frac": sum(r.status != "ok" for r in results) / n_docs,
            # share of in-process docs/s lost to tracing
            "trace.overhead_frac": 1.0 - untraced_s / traced_s,
        }
    )
    return m
