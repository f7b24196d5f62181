"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical tables.  Payloads come from the engine's own fixture
builders (``fixtures_pages``), so the jobs see the page shapes the
goldens pin; the benchmark only chooses the mix and the size.  Each
generator returns ``(table, shape)``, where ``shape`` records row
count, bytes and the property the workload exists to vary.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from webtext_extraction_spark.fixtures_pages import (
    _WORDS,
    bench_payload_for,
    filler,
    sentences,
)

STORM_EVERY = 10            # one turn in ten is a paragraph-storm page
STORM_PARAGRAPHS = (10, 30)  # inclusive range; 30 paragraphs ~0.6 s/page
STORM_SENTENCES = 3         # sentences per paragraph, 13 words each


def _h(key: str) -> int:
    return int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "big")


def _transcripts(seed: int, n_conv: int, payload) -> tuple[pa.Table, list]:
    """``payload(conv_id, turn_idx, row)`` gives (text, tool)."""
    cols = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool")}
    for i in range(n_conv):
        conv_id = f"s{seed}c{i:05d}"
        # 1-12 turns, cycling with the seed: every 12 conversations
        # hold 78 turns, so the row count does not depend on the seed
        for t in range(1 + (i + seed) % 12):
            text, tool = payload(conv_id, t, len(cols["text"]))
            cols["conv_id"].append(conv_id)
            cols["turn_idx"].append(t)
            cols["role"].append(("user", "assistant", "tool")[t % 3])
            cols["text"].append(text)
            cols["tool"].append(tool)
    table = pa.table(
        {
            "conv_id": pa.array(cols["conv_id"], pa.string()),
            "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
            "role": pa.array(cols["role"], pa.string()),
            "text": pa.array(cols["text"], pa.string()),
            "tool": pa.array(cols["tool"], pa.string()),
        }
    )
    return table, cols["text"]


def _text_bytes(texts) -> int:
    return sum(len(t.encode()) for t in texts)


def bench_mix(seed: int, n_conv: int) -> tuple[pa.Table, dict]:
    """The bench profile: half 10-20 KB article pages, half the golden
    archetype mix (``fixtures_pages.bench_payload_for``)."""
    table, texts = _transcripts(
        seed, n_conv, lambda conv_id, turn_idx, _row: bench_payload_for(conv_id, turn_idx)
    )
    return table, {
        "rows": table.num_rows,
        "conversations": n_conv,
        "text_bytes": _text_bytes(texts),
    }


def storm_page(key: str, n_para: int) -> str:
    """A reader-service markdown payload whose paragraphs all come from
    the fixture filler vocabulary, so every pair passes difflib's quick
    gates and pays the full ``ratio()`` in A2."""
    base = _h(key) % 100003
    paras = [
        " ".join(sentences(base * 64 + k, STORM_SENTENCES, 13))
        for k in range(n_para)
    ]
    header = (
        f"Title: Reader {base}\n"
        f"URL Source: https://reader.example/storm/{base}\n"
        "Markdown Content:\n"
    )
    return header + "\n\n".join(paras)


def paragraph_storm(seed: int, n_conv: int) -> tuple[pa.Table, dict]:
    """The bench mix with every tenth row replaced by a storm page.  The
    paragraph counts step through the whole range, so the total A2 work
    hardly depends on the seed; the seed picks which rows and pages."""
    hist: Counter = Counter()
    lo, hi = STORM_PARAGRAPHS

    def payload(conv_id: str, turn_idx: int, row: int):
        if (row + seed) % STORM_EVERY:
            return bench_payload_for(conv_id, turn_idx)
        n_para = lo + (row // STORM_EVERY * 8 + seed) % (hi - lo + 1)
        hist[n_para] += 1
        return storm_page(f"{conv_id}#{turn_idx}", n_para), "fetch"

    table, texts = _transcripts(seed, n_conv, payload)
    return table, {
        "rows": table.num_rows,
        "conversations": n_conv,
        "text_bytes": _text_bytes(texts),
        "storm_rows": sum(hist.values()),
        "storm_paragraph_histogram": {str(k): hist[k] for k in sorted(hist)},
    }


# curate documents: fixture sentences whose words carry a seeded
# variant suffix.  The bare filler vocabulary has 40 words, so any two
# documents would share nearly every word (Jaccard ~1) and LSH would
# degenerate to all-pairs; the suffix widens it to 40 * VARIANTS words.
VARIANTS = 97
NEAR_EDIT_EVERY = 10       # a near duplicate rewrites every 10th word
PII = ("contact {u}@mail.example", "call +1 555 {n:03d} {m:04d}", "host 10.{a}.{b}.7")


def _doc_text(key: int) -> str:
    n_sent = 6 + key % 9
    words = " ".join(sentences(key, n_sent, 14)).split(" ")
    out = []
    for i, w in enumerate(words):
        v = (key * 131 + i * 7919) % VARIANTS
        stop = "." if w.endswith(".") else ""
        # first 7 letters keep the mean word length inside the gate's
        # [3, 10] band once the suffix is added
        out.append(f"{w.rstrip('.')[:7]}{v}{stop}")
    if key % 5 == 0:
        tmpl = PII[key % len(PII)]
        out.append(tmpl.format(u=f"user{key % 1000}", n=key % 1000,
                               m=key % 10000, a=key % 250, b=key % 199))
    return " ".join(out)


def _near_edit(text: str, key: int) -> str:
    words = text.split(" ")
    for i in range(key % NEAR_EDIT_EVERY, len(words), NEAR_EDIT_EVERY):
        words[i] = filler(key + i, 1) + "x"
    return " ".join(words)


def neardup_documents(seed: int, n_base: int) -> tuple[pa.Table, dict, list]:
    """``n_base`` distinct documents; one in ten gains an exact-duplicate
    group and one in ten a near-duplicate group (2-3 extra members
    each, the same count for every seed).  Returns (table, shape, exact_groups) where exact_groups
    lists the doc_id sets that must leave exactly one row."""
    ids, texts, sources = [], [], []
    exact_groups = []
    n_exact_rows = n_near_rows = 0

    def add(text: str, src: str) -> int:
        ids.append(len(ids))
        texts.append(text)
        sources.append(src)
        return ids[-1]

    for i in range(n_base):
        key = _h(f"doc{seed}#{i}") % 10_000_019
        text = _doc_text(key)
        first = add(text, f"src{key % 7}")
        # every tenth document plants an exact group and every tenth a
        # near group, sizes alternating 2 and 3: the row count and the
        # duplicate fraction do not depend on the seed
        extra = 2 + (i // 10) % 2
        if i % 10 == 3:
            group = [first] + [add(text, f"mirror{j}") for j in range(extra)]
            exact_groups.append(group)
            n_exact_rows += extra
        elif i % 10 == 7:
            for j in range(extra):
                add(_near_edit(text, key + j), f"copy{j}")
            n_near_rows += extra
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "source": pa.array(sources, pa.string()),
        }
    )
    shape = {
        "rows": table.num_rows,
        "base_docs": n_base,
        "text_bytes": _text_bytes(texts),
        "vocabulary": len(_WORDS) * VARIANTS,
        "exact_groups": len(exact_groups),
        "exact_dup_rows": n_exact_rows,
        "near_dup_rows": n_near_rows,
        "planted_dup_frac": round((n_exact_rows + n_near_rows) / table.num_rows, 4),
    }
    return table, shape, exact_groups


def write_parquet(table: pa.Table, path: str, files: int = 8) -> int:
    """Write ``table`` as ``files`` parquet files (a scan gets one split
    per file, as from any multi-file writer).  Returns bytes on disk."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    total = 0
    for j in range(files):
        part = os.path.join(path, f"part-{j:03d}.parquet")
        pq.write_table(table.slice(j * step, step), part)
        total += os.path.getsize(part)
    return total
