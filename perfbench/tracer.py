"""Span tracing of the extraction kernel from outside the program.

Each public kernel function is wrapped where its caller looks the name
up (a module global or class attribute), so the program's code is not
edited.  A span's self time is its duration minus the time of the
wrapped calls nested inside it.  ``SequenceMatcher`` is replaced in
the A2 module by a subclass that counts the paragraph pairs compared
and the pairs that reach the full ``ratio()``.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from difflib import SequenceMatcher

# layer -> [(module path, attribute)], attribute may be "Class.method"
KERNEL_LAYERS = {
    "kernel.extract": [("webtext_extraction_spark.kernel.extract", "extract_payload")],
    "html.parse": [("webtext_extraction_spark.html.dom", "parse")],
    "html.select": [
        ("webtext_extraction_spark.html.selector", "select"),
        ("webtext_extraction_spark.html.selector", "decompose_all"),
        ("webtext_extraction_spark.kernel.extract", "decompose_all"),
    ],
    "kernel.cascade": [
        ("webtext_extraction_spark.kernel.extract", "extract_main_content"),
        # the Selenium-path replay of the cascade (body fallback)
        ("webtext_extraction_spark.kernel.extract", "_selenium_variant"),
    ],
    "kernel.handlers": [
        ("webtext_extraction_spark.kernel.handlers", name)
        for name in (
            "handle_twitter", "handle_instagram", "handle_chiebukuro",
            "handle_youtube", "handle_pinterest",
        )
    ],
    "kernel.pdf": [("webtext_extraction_spark.kernel.extract", "extract_pdfish")],
    "kernel.cleanup": [
        ("webtext_extraction_spark.kernel.extract", "cleanup_extracted_text"),
        ("webtext_extraction_spark.kernel.extract", "jina_markdown_cleanup"),
    ],
    "kernel.a2": [("webtext_extraction_spark.kernel.cleanup", "remove_duplicate_content")],
    "kernel.spans": [("webtext_extraction_spark.kernel.tracked", "TrackedText.span_tuples")],
}
ROOT = "kernel.extract"


class Tracer:
    """Accumulates per-layer call counts, total and self time."""

    def __init__(self):
        self.calls = defaultdict(int)
        self.total = defaultdict(float)
        self.self_time = defaultdict(float)
        self.a2_pairs = 0
        self.a2_full_ratio = 0
        self._stack: list = []  # [layer, child seconds]

    def wrap(self, layer: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            frame = [layer, 0.0]
            tracer._stack.append(frame)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                tracer._stack.pop()
                tracer.calls[layer] += 1
                tracer.total[layer] += dt
                tracer.self_time[layer] += dt - frame[1]
                if tracer._stack:
                    tracer._stack[-1][1] += dt

        traced.__wrapped__ = fn
        return traced

    def matcher_class(self):
        tracer = self

        class CountingMatcher(SequenceMatcher):
            def set_seq1(self, a):
                if a:  # the constructor's empty placeholder is not a pair
                    tracer.a2_pairs += 1
                super().set_seq1(a)

            def ratio(self):
                tracer.a2_full_ratio += 1
                return super().ratio()

        return CountingMatcher

    @contextmanager
    def installed(self):
        """Swap every wrapper in for the duration of the block."""
        import importlib

        saved = []
        for layer, targets in KERNEL_LAYERS.items():
            for mod_name, attr in targets:
                owner = importlib.import_module(mod_name)
                name = attr
                if "." in attr:
                    cls_name, name = attr.split(".")
                    owner = getattr(owner, cls_name)
                saved.append((owner, name, getattr(owner, name)))
                setattr(owner, name, self.wrap(layer, getattr(owner, name)))
        cleanup = importlib.import_module("webtext_extraction_spark.kernel.cleanup")
        saved.append((cleanup, "SequenceMatcher", cleanup.SequenceMatcher))
        cleanup.SequenceMatcher = self.matcher_class()
        try:
            yield self
        finally:
            for owner, name, original in reversed(saved):
                setattr(owner, name, original)

    def layer_metrics(self, rows: int) -> dict:
        root = self.total[ROOT]
        inner = sum(v for k, v in self.self_time.items() if k != ROOT)
        return {
            "html.parse_s": self.self_time["html.parse"],
            "html.parses_per_row": self.calls["html.parse"] / rows,
            "html.select_s": self.self_time["html.select"],
            "kernel.cascade_s": self.self_time["kernel.cascade"],
            "kernel.handlers_s": self.self_time["kernel.handlers"],
            "kernel.pdf_s": self.self_time["kernel.pdf"],
            "kernel.cleanup_s": self.self_time["kernel.cleanup"],
            "kernel.a2_s": self.self_time["kernel.a2"],
            "kernel.spans_s": self.self_time["kernel.spans"],
            "kernel.a2_pairs": self.a2_pairs,
            "kernel.a2_full_ratio_frac": self.a2_full_ratio / max(self.a2_pairs, 1),
            "kernel.self_time_coverage": inner / root if root else 0.0,
        }


def kernel_pass(rows: list, tracer: Tracer | None = None) -> list:
    """Run ``extract_payload`` over (payload, tool) rows the way the UDF
    calls it; returns per-row seconds.  With a tracer, the wrappers are
    installed for the pass."""
    from webtext_extraction_spark.kernel import extract as kx

    def one_pass():
        times = []
        for payload, tool in rows:
            payload = payload or ""
            url_domain = kx.derive_url_and_domain(payload)
            t0 = time.perf_counter()
            kx.extract_payload(payload, tool or "", None, url_domain=url_domain)
            times.append(time.perf_counter() - t0)
        return times

    if tracer is None:
        return one_pass()
    with tracer.installed():
        return one_pass()
