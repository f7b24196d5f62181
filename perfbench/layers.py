"""Per-layer measurements that call one layer of the program alone.

Each Spark measurement forces the layer's output through an aggregate,
so Catalyst can neither prune the work nor skip a UDF, and times the
``collect`` of that aggregate.
"""

from __future__ import annotations

import statistics
import time

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from tracer import Tracer, kernel_pass


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


@F.arrow_udf(StringType())
def _constant_udf(texts: pa.Array, tools: pa.Array) -> pa.Array:
    # the Arrow round trip with no kernel work: same input columns, a
    # one-character result per row
    return pa.array(["x"] * len(texts), type=pa.string())


def extraction_layers(spark, input_dir: str, control, control_rows: list) -> dict:
    """Scan, probe, Arrow transport and the extraction operator over the
    job's input, paired with the no-Spark control on the same payloads
    (control, Spark, control, Spark; medians)."""
    from webtext_extraction_spark.operators.extraction import extract_turns
    from webtext_extraction_spark.operators.partitioning import probe_payload_stats

    df = spark.read.parquet(input_dir)
    rows = len(control_rows)
    transport = _constant_udf.asNondeterministic()
    out = {
        "sources.scan_s": timed(
            lambda: df.agg(F.sum(F.length("text"))).collect()
        ),
        "partitioning.probe_s": timed(
            lambda: probe_payload_stats(df, sample_fraction=0.1)
        ),
        "extraction.transport_s": timed(
            lambda: df.select(transport("text", "tool").alias("x"))
            .agg(F.sum(F.length("x"))).collect()
        ),
    }
    spark_s, control_s = [], []
    for _ in range(2):
        control_s.append(control.run(control_rows)[1])
        spark_s.append(timed(
            lambda: extract_turns(df).agg(
                F.count("*"), F.sum(F.length("extracted_text")),
                F.countDistinct("status"),
            ).collect()
        ))
    extract_s = statistics.median(spark_s)
    out["extraction.extract_s"] = extract_s
    out["extraction.rows_per_s"] = rows / extract_s
    out["control.rows_per_s"] = rows / statistics.median(control_s)
    out["extraction.plan_efficiency"] = (
        out["extraction.rows_per_s"] / out["control.rows_per_s"]
    )
    return out


def kernel_layers(payload_rows: list) -> dict:
    """One core, in this process: a plain pass for row times, then a
    traced pass for layer self times."""
    times = sorted(kernel_pass(payload_rows))
    tracer = Tracer()
    kernel_pass(payload_rows, tracer)
    n = len(times)
    return {
        "kernel.rows_per_s": n / sum(times),
        "kernel.row_p50_ms": 1000 * statistics.median(times),
        "kernel.row_p99_ms": 1000 * times[min(n - 1, int(0.99 * n))],
        "kernel.row_max_ms": 1000 * times[-1],
        **tracer.layer_metrics(n),
    }


def curation_layers(spark, docs_dir: str, jaccard: float) -> dict:
    """Each curation operator of the curate job called alone on the
    job's documents."""
    from webtext_extraction_spark.operators import dedup, privacy, textstats

    docs = spark.read.parquet(docs_dir)
    out = {
        "textstats.quality_gate_s": timed(
            lambda: textstats.quality_gate(docs, "doc_id", "text")
            .agg(F.sum("n_words"), F.sum(F.col("passes").cast("int"))).collect()
        ),
        "textstats.repetition_profile_s": timed(
            lambda: textstats.repetition_profile(docs, "doc_id", "text")
            .agg(F.sum("dup_word_char_frac")).collect()
        ),
        "privacy.scrub_pii_s": timed(
            lambda: privacy.scrub_pii(docs, "doc_id", "text")
            .agg(F.sum(F.length("scrubbed_text")), F.sum("n_email")).collect()
        ),
    }

    def lsh(threshold):
        return dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=8, bands=4,
            jaccard_threshold=threshold,
        )

    box = {}
    out["dedup.minhash_lsh_pairs_s"] = timed(
        lambda: box.update(pairs=lsh(jaccard).collect())
    )
    pairs = spark.createDataFrame(
        [(r["id_a"], r["id_b"]) for r in box["pairs"]], "id_a long, id_b long"
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    out["dedup.connected_components_s"] = timed(
        lambda: dedup.connected_components(pairs, nodes, check_every=2)
        .agg(F.count("*"), F.sum("component")).collect()
    )
    # every candidate pair, verified or not: threshold 0 keeps them all
    counts = lsh(0.0).agg(
        F.count("*").alias("n"),
        F.sum((F.col("jaccard") >= jaccard).cast("int")).alias("verified"),
    ).collect()[0]
    out["dedup.lsh_candidate_pairs"] = counts["n"]
    out["dedup.lsh_verified_frac"] = (counts["verified"] or 0) / max(counts["n"], 1)
    return out
