"""The no-Spark control: the extraction kernel over the same payloads in
a plain process pool.

It gives the expected job output (the digest every extract run is
checked against) and the throughput ceiling that Spark's extraction
stage is compared with (``extraction.plan_efficiency``).
"""

from __future__ import annotations

import hashlib
import multiprocessing
import time


def extract_rows(rows: list) -> list:
    """(conv_id, turn_idx, md5(extracted_text), status, strategy) per
    (conv_id, turn_idx, payload, tool) row, exactly as the job's UDF
    computes them: url/domain derived once, then the error-pattern
    status layered over ``ok`` rows."""
    from webtext_extraction_spark import rules
    from webtext_extraction_spark.kernel.extract import (
        derive_url_and_domain,
        extract_payload,
    )

    out = []
    for conv_id, turn_idx, payload, tool in rows:
        payload = payload or ""
        result = extract_payload(
            payload, tool or "", None, url_domain=derive_url_and_domain(payload)
        )
        status = result.status
        if status == "ok" and any(p in result.text for p in rules.ERROR_PATTERNS):
            status = "error_pattern"
        digest = hashlib.md5(result.text.encode()).hexdigest()
        out.append((conv_id, turn_idx, digest, status, result.strategy))
    return out


def digest(rows) -> str:
    """Order-free digest of (conv_id, turn_idx, md5, status, strategy)."""
    h = hashlib.md5()
    for row in sorted(tuple(r) for r in rows):
        h.update(repr(row).encode())
    return h.hexdigest()


class ControlPool:
    """``procs`` spawned workers with the engine imported, so a timed
    ``run`` measures kernel throughput, not interpreter start-up."""

    def __init__(self, procs: int):
        self.procs = procs
        self._pool = multiprocessing.get_context("spawn").Pool(procs)
        self._pool.map(extract_rows, [[("w", 0, "<p>warm</p>", "fetch")]] * procs)

    def run(self, rows: list) -> tuple[list, float]:
        """Returns (results, seconds).  Rows go out in small chunks so a
        few slow pages cannot leave workers idle at the end."""
        chunks = [rows[i:i + 8] for i in range(0, len(rows), 8)]
        t0 = time.perf_counter()
        parts = self._pool.map(extract_rows, chunks, chunksize=1)
        elapsed = time.perf_counter() - t0
        return [r for part in parts for r in part], elapsed

    def close(self) -> None:
        self._pool.close()
        self._pool.join()
        self._pool = None
