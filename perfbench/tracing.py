"""Spans recorded from the benchmark's own files around calls into the
package's layers, plus the in-process oracle instrumentation.

A span is ``{id, name, start_ms, end_ms, parent, run, attrs}``. Spans are
kept in memory and written out once, at the end of the run. A layer's
self time is its span's duration minus the time its child spans cover.
With tracing off, ``span`` records nothing.
"""

from __future__ import annotations

import contextlib
import json
import time


def span_tables(spans):
    """Per span id: duration and self time (ms); child spans by parent
    id."""
    dur = {s["id"]: s["end_ms"] - s["start_ms"] for s in spans}
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    self_ms = {sid: d - sum(dur[c["id"]] for c in kids.get(sid, ()))
               for sid, d in dur.items()}
    return dur, self_ms, kids


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "start_ms": (time.perf_counter() - self._t0) * 1e3,
               "end_ms": None,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run": self.run_id, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end_ms"] = (time.perf_counter() - self._t0) * 1e3
            self._stack.pop()

    def summary(self) -> dict:
        """Per span name: count, total (inclusive) ms and self ms."""
        dur, self_ms, _ = span_tables(self.spans)
        out: dict = {}
        for s in self.spans:
            agg = out.setdefault(s["name"],
                                 {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            agg["count"] += 1
            agg["total_ms"] += dur[s["id"]]
            agg["self_ms"] += self_ms[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "summary": self.summary()}, fh)


# Names bound in crawspark.oracle.extract, grouped into the phases the
# per-layer metrics report.
ORACLE_PHASES = {
    "parse": ("parse_html",),
    "meta": ("extract_meta", "extract_title", "detect_lang",
             "extract_publish_date_and_tags"),
    "clean": ("clean_document",),
    "score": ("score_nodes", "merge_siblings"),
    "format": ("format_content", "extract_outlinks"),
    "pdf": ("extract_pdf_text",),
}


class _CountingPattern:
    """Stands in for a compiled regex and counts searches that miss."""

    def __init__(self, pattern):
        self.pattern = pattern
        self.misses = 0

    def search(self, *args, **kwargs):
        m = self.pattern.search(*args, **kwargs)
        if m is None:
            self.misses += 1
        return m


@contextlib.contextmanager
def instrument_oracle(tracer: Tracer):
    """Wrap the phase functions ``extract_document`` calls in spans named
    ``oracle.<phase>``, and count tag pre-filter skips. Yields a dict
    that holds ``tag_prefilter_skips`` once the block exits."""
    from crawspark.oracle import extract as mod

    saved = {}

    def wrap(fn, span_name):
        def timed(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)
        return timed

    for phase, names in ORACLE_PHASES.items():
        for name in names:
            saved[name] = getattr(mod, name)
            setattr(mod, name, wrap(saved[name], f"oracle.{phase}"))
    saved["_RE_HAS_TAG"] = mod._RE_HAS_TAG
    counting = _CountingPattern(mod._RE_HAS_TAG)
    mod._RE_HAS_TAG = counting
    counts: dict = {}
    try:
        yield counts
    finally:
        for name, fn in saved.items():
            setattr(mod, name, fn)
        counts["tag_prefilter_skips"] = counting.misses
