"""Physical-plan audits: the plans we claim are the plans Spark runs.

Asserts over .explain output: filter/column pushdown into the parquet
scan, broadcast joins where we broadcast, no cartesian products in the
LSH pipelines, exactly one Arrow UDF stage in extraction.
"""

from pyspark.sql import functions as F

from webtext_extraction_spark.operators import dedup, similarity
from webtext_extraction_spark.operators.extraction import extract_turns
from webtext_extraction_spark.sources.transcripts import synth_transcripts


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _n_arrow_stages(plan: str) -> int:
    import re

    # formatted explain mentions each node twice (tree + details):
    # count distinct node ids
    return len(set(re.findall(r"ArrowEvalPython \((\d+)\)", plan)))


def test_scan_pushdown_through_extraction(spark, tmp_path):
    path = str(tmp_path / "t")
    synth_transcripts(spark, num_conversations=10).write.parquet(path)
    df = spark.read.parquet(path).filter(F.col("conv_id") == "conv000003")
    out = extract_turns(df).select("conv_id", "extracted_text")
    plan = _plan(out)
    # the conv_id predicate reaches the parquet scan
    assert "PushedFilters" in plan
    assert "conv000003" in plan or "IsNotNull(conv_id)" in plan
    # exactly one Arrow-batched python stage
    assert _n_arrow_stages(plan) == 1


def test_column_pruning_drops_payload(spark, tmp_path):
    path = str(tmp_path / "t2")
    synth_transcripts(spark, num_conversations=10).write.parquet(path)
    df = spark.read.parquet(path).select("conv_id", "turn_idx")
    plan = _plan(df)
    # a 2-column projection must not read the payload column
    assert "text" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_cosine_topk_broadcasts_queries(spark):
    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(4)]) for i in range(30)],
        ["vec_id", "embedding"],
    )
    plan = _plan(similarity.cosine_topk(emb, query_ids=[0], k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_minhash_lsh_has_no_cartesian_product(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i} common tokens here") for i in range(20)], ["doc_id", "text"]
    )
    plan = _plan(dedup.minhash_lsh_pairs(docs, "doc_id", "text", 8, 4, 0.1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # equi-join on (band,bucket)


def test_pipeline_auto_skips_shuffle_when_no_skew(spark, tmp_path):
    """Flagship plan buys the repartition ONLY under detected skew: on
    a no-skew input the auto plan has no Exchange below the UDF (scan →
    ArrowEvalPython), while salt_hot_keys=True forces one."""
    from webtext_extraction_spark.plans.pipeline import extraction_pipeline

    path = str(tmp_path / "t4")
    synth_transcripts(spark, num_conversations=30).write.parquet(path)
    flat = spark.read.parquet(path)

    auto_plan = _plan(extraction_pipeline(flat))
    assert "ArrowEvalPython" in auto_plan
    assert "Exchange" not in auto_plan  # extraction is shuffle-free

    forced_plan = _plan(extraction_pipeline(flat, salt_hot_keys=True))
    assert "Exchange" in forced_plan


def test_pipeline_auto_shuffles_under_skew(spark):
    """With a genuinely hot conversation, auto detects it and the plan
    gains the salted repartition."""
    from webtext_extraction_spark.plans.pipeline import extraction_pipeline

    rows = [(f"c{i}", 0, "user", "x" * 50, "fetch", None) for i in range(40)]
    rows += [("hot", t, "user", "y" * 60000, "fetch", None) for t in range(6)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    plan = _plan(extraction_pipeline(df, hot_sample_fraction=None))
    assert "ArrowEvalPython" in plan
    assert "Exchange" in plan


def test_pipeline_honors_explicit_num_partitions_without_skew(spark, tmp_path):
    """ADVICE r02: an explicitly passed num_partitions must size the
    extraction stage even when the probe finds no skew (only
    num_partitions=None gets the shuffle-free fast path)."""
    from webtext_extraction_spark.plans.pipeline import extraction_pipeline

    path = str(tmp_path / "t5")
    synth_transcripts(spark, num_conversations=30).write.parquet(path)
    flat = spark.read.parquet(path)

    sized = extraction_pipeline(flat, num_partitions=5)
    assert "Exchange" in _plan(sized)
    assert sized.rdd.getNumPartitions() == 5


def test_pipeline_auto_repartitions_heavy_rows_without_skew(spark):
    """Heavy-row regime: uniform ~200 KB payloads (zero key skew) must
    still buy the fine-grained repartition — per-row CPU follows
    payload bytes, so scan splits are too coarse (bench_heavy)."""
    from webtext_extraction_spark.plans.pipeline import extraction_pipeline

    rows = [(f"c{i}", 0, "user", "x" * 200_000, "fetch", None) for i in range(40)]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    plan = _plan(extraction_pipeline(df, hot_sample_fraction=None))
    assert "Exchange" in plan
    assert "ArrowEvalPython" in plan


def test_probe_payload_stats_reports_both_regimes(spark):
    from webtext_extraction_spark.operators.partitioning import probe_payload_stats

    rows = [(f"c{i}", t, "x" * 100) for i in range(50) for t in range(4)]
    rows += [("hot", t, "y" * 40000) for t in range(8)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    stats = probe_payload_stats(df)
    assert stats["hot_keys"] == ["hot"]
    # mean row bytes = (200*100 + 8*40000) / 208
    assert abs(stats["mean_row_bytes"] - (200 * 100 + 8 * 40000) / 208) < 1e-6


def test_warm_stats_probe_never_reads_payload(spark, tmp_path):
    """Warm re-run: hot keys come from the previous run's committed
    payload_bytes column — the probe plan's ReadSchema must not contain
    the text column, and it must find the same hot key the cold probe
    finds (VERDICT r02 #2)."""
    from webtext_extraction_spark.operators.partitioning import detect_hot_keys
    from webtext_extraction_spark.plans.lineage import run_extraction, warm_key_stats

    rows = [(f"c{i}", 0, "user", "x" * 50, "fetch", None) for i in range(40)]
    rows += [("hot", t, "user", "y" * 60000, "fetch", None) for t in range(6)]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = str(tmp_path / "warm")
    run_extraction(spark, df, out, num_buckets=4, input_snapshot="snapW")

    assert warm_key_stats(spark, out, "other-snap") is None
    stats = warm_key_stats(spark, out, "snapW")
    assert stats is not None

    # the probe's scan is column-pruned to (conv_id, payload_bytes)
    per_key = stats.groupBy("conv_id").agg(F.sum("payload_bytes").alias("b"))
    read_schema = _plan(per_key).split("ReadSchema")[1].split("\n")[0]
    assert "payload_bytes" in read_schema and "text" not in read_schema

    assert detect_hot_keys(stats, bytes_col="payload_bytes") == ["hot"]
    assert detect_hot_keys(df) == ["hot"]  # cold probe agrees


def test_boilerplate_ngrams_partial_aggregation(spark, tmp_path):
    """explode → groupBy must keep the map-side partial aggregate
    (two HashAggregate nodes) and prune unused columns from the scan."""
    path = str(tmp_path / "bp")
    spark.createDataFrame(
        [(i, "alpha beta gamma delta", i) for i in range(20)],
        ["doc_id", "text", "extra_col"],
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    plan = _plan(dedup.boilerplate_ngrams(docs, "doc_id", "text", n=3, min_docs=2))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "CartesianProduct" not in plan
    assert "extra_col" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_connected_components_no_cartesian(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(5)], ["node"])
    plan = _plan(dedup.connected_components(pairs, nodes, max_iterations=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_extraction_keeps_status_filter_jvm_side(spark, tmp_path):
    path = str(tmp_path / "t3")
    synth_transcripts(spark, num_conversations=5).write.parquet(path)
    out = extract_turns(spark.read.parquet(path))
    from webtext_extraction_spark.operators.extraction import renderable

    plan = _plan(renderable(out))
    # status filter is a plain Filter over the UDF output — one python
    # stage only, filter evaluated JVM-side
    assert _n_arrow_stages(plan) == 1


def _node_ids(plan: str, node: str) -> int:
    # the tree line is "<node> [<table>] (<id>)" — the optional table
    # identifier (empty for path reads → double space) sits between
    import re as _re

    return len(set(_re.findall(rf"{node}[^\n(]*\((\d+)\)", plan)))


def test_repetition_profile_single_payload_scan(spark, tmp_path):
    """All gram sizes must come from ONE scan of the text column — a
    per-n union would rescan the 100 TB payload once per gram size."""
    from webtext_extraction_spark.operators.textstats import repetition_profile

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(8)], ["doc_id", "text"]
    ).write.parquet(p)
    plan = _plan(repetition_profile(spark.read.parquet(p), "doc_id", "text"))
    assert _node_ids(plan, "Scan parquet") == 1


def test_decontaminate_broadcasts_bench_and_never_shuffles_payload(spark, tmp_path):
    """Bench gram set broadcast; the only Exchange carries the tiny
    (doc_id, counters) aggregate — the payload never shuffles."""
    from webtext_extraction_spark.operators.contamination import decontaminate

    p = str(tmp_path / "docs2")
    spark.createDataFrame(
        [(i, "w x y z q r s t u v") for i in range(8)], ["doc_id", "text"]
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = _plan(decontaminate(docs, docs, "doc_id", "text", n=4))
    assert _node_ids(plan, "BroadcastExchange") >= 1
    # no Exchange may carry the text column
    import re as _re

    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_sample_mix_is_shuffle_free(spark, tmp_path):
    from webtext_extraction_spark.operators.textstats import sample_mix

    p = str(tmp_path / "docs3")
    spark.createDataFrame(
        [(i, "src%d" % (i % 3)) for i in range(9)], ["doc_id", "source"]
    ).write.parquet(p)
    plan = _plan(sample_mix(spark.read.parquet(p), "doc_id", "source", {"src0": 0.5}))
    assert _node_ids(plan, "Exchange") == 0
    assert _node_ids(plan, "ArrowEvalPython") == 0  # pure column expressions


def test_conversation_digest_shuffles_digests_not_payloads(spark, tmp_path):
    """The groupBy(conv) aggregate must shuffle (idx, md5) structs —
    the text column itself stays out of every Exchange."""
    from webtext_extraction_spark.operators.conversations import conversation_digest

    p = str(tmp_path / "convs")
    spark.createDataFrame(
        [("c%d" % (i % 3), i, "payload text %d" % i) for i in range(9)],
        ["conv_id", "turn_idx", "text"],
    ).write.parquet(p)
    plan = _plan(conversation_digest(spark.read.parquet(p)))
    import re as _re

    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_pack_sequences_has_no_single_partition_exchange(spark):
    """The 100 TB killer shape would be `Exchange SinglePartition` +
    a global-sort Window; the range-partitioned formulation must show
    neither — running sums run per range partition, and the only
    exchanges are the pid/bin_id hash shuffles + the broadcast offset
    map."""
    from webtext_extraction_spark.operators.textstats import pack_sequences

    df = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1)) for i in range(50)], ["doc_id", "text"]
    )
    plan = _plan(pack_sequences(df, "doc_id", "text", budget=10, num_partitions=4))
    assert "SinglePartition" not in plan
    assert _node_ids(plan, "Window") >= 1  # the per-partition running sum is real


def test_remove_boilerplate_apply_is_one_scan_no_shuffle(spark, tmp_path):
    """The default (driver-set) apply path with a supplied gram table
    must be ONE projection: a single parquet scan of the document
    table, no Exchange, no join — the gram membership test is an
    embedded InSet, not a join."""
    from webtext_extraction_spark.operators.dedup import remove_boilerplate

    p = str(tmp_path / "docs_rb")
    spark.createDataFrame(
        [(i, "follow us on line %d" % i) for i in range(12)], ["doc_id", "text"]
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    grams = spark.createDataFrame(
        [("follow us on",), ("us on line",)], ["ngram"]
    )
    plan = _plan(remove_boilerplate(docs, "doc_id", "text", n=3, grams=grams))
    assert _node_ids(plan, "Exchange") == 0
    assert _node_ids(plan, "Join") == 0 and "Join" not in plan
    assert _node_ids(plan, "Scan parquet") == 1


def test_extract_turns_distinct_honors_num_partitions_single_exchange(spark):
    """An explicit num_partitions on the distinct path sizes the digest
    shuffle itself — the dedup aggregate's clustering requirement is
    satisfied by the explicit repartition, so there is exactly ONE
    digest exchange, at the requested width (ADVICE r03)."""
    import re

    from webtext_extraction_spark.operators.extraction import extract_turns_distinct
    from webtext_extraction_spark.sources.transcripts import synth_transcripts

    df = synth_transcripts(spark, num_conversations=10)
    plan = _plan(extract_turns_distinct(df, num_partitions=7))
    assert re.findall(r"hashpartitioning\(_ph#\d+, (\d+)\)", plan) == ["7"]


def test_scrub_pii_is_shuffle_free_pure_expressions(spark, tmp_path):
    from webtext_extraction_spark.operators.privacy import scrub_pii

    p = str(tmp_path / "docs_pii")
    spark.createDataFrame(
        [(i, "text %d u@x.com" % i) for i in range(8)], ["doc_id", "text"]
    ).write.parquet(p)
    plan = _plan(scrub_pii(spark.read.parquet(p), "doc_id", "text"))
    assert _node_ids(plan, "Exchange") == 0
    assert _node_ids(plan, "ArrowEvalPython") == 0  # JVM regexes, no Python


def test_unigram_logprob_shuffles_hashes_not_text(spark, tmp_path):
    """The LM-score shuffles carry (hash, count/logprob) — the text
    column itself stays out of every Exchange."""
    import re as _re

    from webtext_extraction_spark.operators.textstats import (
        unigram_frequencies,
        unigram_logprob,
    )

    p = str(tmp_path / "docs_lm")
    spark.createDataFrame(
        [(i, "w%d common words here" % (i % 3)) for i in range(9)],
        ["doc_id", "text"],
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    out = unigram_logprob(docs, "doc_id", "text", freqs=unigram_frequencies(docs, "text"))
    plan = _plan(out)
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_sessionize_single_exchange_shared_sort(spark, tmp_path):
    """The lag window and the running-sum window share partitioning and
    order — the plan must have exactly ONE Exchange (the key hash) and
    ONE Sort, not one per window."""
    from webtext_extraction_spark.operators.relational import sessionize

    p = str(tmp_path / "evts")
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i % 3, i, t0 + datetime.timedelta(seconds=i)) for i in range(30)],
        "user_id long, event_id long, ts timestamp_ntz",
    ).write.parquet(p)
    plan = _plan(sessionize(spark.read.parquet(p), "user_id", "ts", 5, "event_id"))
    assert _node_ids(plan, "Exchange") == 1
    assert _node_ids(plan, "Sort") == 1


def test_group_percentiles_single_exchange(spark, tmp_path):
    """Rank-window percentiles: ONE hash Exchange (the final boundary
    aggregate reuses the window's partitioning — hash(_g) already
    clusters (_g, p)), ONE Sort, and the NULL-value filter pushed into
    the parquet scan."""
    from webtext_extraction_spark.operators.textstats import group_percentiles

    p = str(tmp_path / "pctl")
    spark.createDataFrame(
        [("g%d" % (i % 3), float(i)) for i in range(60)], "g string, v double"
    ).write.parquet(p)
    plan = _plan(group_percentiles(spark.read.parquet(p), "g", "v"))
    assert _node_ids(plan, "Exchange") == 1
    assert _node_ids(plan, "Sort") == 1
    assert "IsNotNull(v)" in plan  # pushed to the scan


def test_global_percentiles_no_single_partition_exchange(spark, tmp_path):
    """Whole-corpus percentiles must never plan `Exchange
    SinglePartition` (the one-task global sort the operator exists to
    avoid) — ranks come from range partitions + driver offsets."""
    from webtext_extraction_spark.operators.textstats import global_percentiles

    p = str(tmp_path / "gpctl")
    spark.createDataFrame(
        [(float(i),) for i in range(200)], "v double"
    ).write.parquet(p)
    plan = _plan(
        global_percentiles(spark.read.parquet(p), "v", [0.5, 0.9], num_partitions=4)
    )
    assert "SinglePartition" not in plan


def test_asof_join_single_exchange_no_join_node(spark, tmp_path):
    """asof_join is the merge-join formulation: union both sides, ONE
    hash Exchange on the key, ONE Sort, a running-last Window — and no
    join operator at all (the naive range-join would plan a
    BroadcastNestedLoopJoin, quadratic per key)."""
    import datetime

    from webtext_extraction_spark.operators.relational import asof_join

    t0 = datetime.datetime(2024, 1, 1)
    lp, rp = str(tmp_path / "asof_l"), str(tmp_path / "asof_r")
    spark.createDataFrame(
        [(i, i % 3, t0 + datetime.timedelta(seconds=i)) for i in range(30)],
        "eid long, k long, ts timestamp_ntz",
    ).write.parquet(lp)
    spark.createDataFrame(
        [(i, i % 3, t0 + datetime.timedelta(seconds=i * 2)) for i in range(10)],
        "rid long, k long, ts timestamp_ntz",
    ).write.parquet(rp)
    plan = _plan(
        asof_join(
            spark.read.parquet(lp), spark.read.parquet(rp), "k", "ts", "ts", ["rid"]
        )
    )
    assert _node_ids(plan, "Exchange") == 1
    assert _node_ids(plan, "Sort") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_chunk_documents_is_shuffle_free(spark, tmp_path):
    from webtext_extraction_spark.operators.textstats import chunk_documents

    p = str(tmp_path / "docs_ck")
    spark.createDataFrame(
        [(i, "some words repeated here %d" % i) for i in range(10)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(chunk_documents(spark.read.parquet(p), "doc_id", "text", 4, 1))
    assert _node_ids(plan, "Exchange") == 0
    assert _node_ids(plan, "ArrowEvalPython") == 0


def test_duplicate_spans_shuffles_hashes_not_text(spark, tmp_path):
    """Occurrence counting and coverage shuffles carry hashed grams and
    positions — the text column never enters an Exchange."""
    import re as _re

    from webtext_extraction_spark.operators.dedup import duplicate_spans

    p = str(tmp_path / "docs_ds")
    spark.createDataFrame(
        [(i, "shared run of words plus tail %d" % i) for i in range(10)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(duplicate_spans(spark.read.parquet(p), "doc_id", "text", n=4))
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_hashed_bow_embedding_two_int_shuffles_no_text(spark, tmp_path):
    """The feature-hashing bridge shuffles only (id, bucket, sum) int
    rows — the text column never enters an Exchange, and there is no
    Python node anywhere (pure JVM expressions)."""
    import re as _re

    from webtext_extraction_spark.operators.similarity import hashed_bow_embedding

    p = str(tmp_path / "docs_hbe")
    spark.createDataFrame(
        [(i, "some words for doc %d" % i) for i in range(10)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(hashed_bow_embedding(spark.read.parquet(p), "text", "doc_id", dim=16))
    assert _node_ids(plan, "Exchange") == 2
    assert _node_ids(plan, "ArrowEvalPython") == 0
    assert _node_ids(plan, "BatchEvalPython") == 0
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_corpus_diff_projects_hashes_before_join(spark, tmp_path):
    """Snapshot diff joins 36-byte (id, md5) projections — the text
    column never enters the full-outer-join Exchanges."""
    import re as _re

    from webtext_extraction_spark.operators.dedup import corpus_diff

    p = str(tmp_path / "docs_cd")
    spark.createDataFrame(
        [(i, "text %d" % i) for i in range(10)], ["doc_id", "text"]
    ).write.parquet(p)
    old = spark.read.parquet(p)
    new = spark.read.parquet(p)
    plan = _plan(corpus_diff(old, new, "doc_id", "text"))
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_hll_tfidf_inverted_index_no_python_no_text_shuffle(spark, tmp_path):
    """The three r5 corpus-statistics operators stay pure-JVM (no
    Python nodes) and never put the text column into an Exchange —
    only keys/terms/ints ride the shuffles."""
    import re as _re

    from webtext_extraction_spark.operators.textstats import (
        cms_sketch,
        hll_cardinality,
        inverted_index,
        tfidf_top_terms,
    )

    p = str(tmp_path / "docs_stats")
    spark.createDataFrame(
        [(i, "word%d common text here" % i, "s%d" % (i % 2)) for i in range(20)],
        ["doc_id", "text", "source"],
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    for frame in (
        hll_cardinality(docs, "text", ["source"]),
        tfidf_top_terms(docs, "doc_id", "text", k=2),
        inverted_index(docs, "doc_id", "text"),
        cms_sketch(docs, "text", depth=4, width=64),
    ):
        plan = _plan(frame)
        assert _node_ids(plan, "ArrowEvalPython") == 0
        assert _node_ids(plan, "BatchEvalPython") == 0
        for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
            assert "text#" not in m.group(0)


def test_token_entropy_shuffles_hashes_not_text(spark, tmp_path):
    """Both aggregation shuffles carry (id, token-hash, count) — the
    text column itself never enters an Exchange."""
    import re as _re

    from webtext_extraction_spark.operators.textstats import token_entropy

    p = str(tmp_path / "docs_ent")
    spark.createDataFrame(
        [(i, "w%d common words here" % (i % 3)) for i in range(9)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(token_entropy(spark.read.parquet(p), "doc_id", "text"))
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_bigram_logprob_shuffles_hashes_not_text(spark, tmp_path):
    """The model groupBy and both scoring joins move (h1, h12,
    counts) — 16-byte keys, never the text column."""
    import re as _re

    from webtext_extraction_spark.operators.textstats import (
        bigram_frequencies,
        bigram_logprob,
    )

    p = str(tmp_path / "docs_blm")
    spark.createDataFrame(
        [(i, "w%d common words here w%d" % (i % 3, i % 2)) for i in range(9)],
        ["doc_id", "text"],
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    out = bigram_logprob(
        docs, "doc_id", "text", model=bigram_frequencies(docs, "text")
    )
    plan = _plan(out)
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)


def test_shuffle_corpus_no_single_partition_exchange(spark, tmp_path):
    """The global shuffle position must come from range partitions +
    driver offsets — never an `Exchange SinglePartition` global-sort
    task; only (id, ticket) rows ride the range shuffle."""
    from webtext_extraction_spark.operators.textstats import shuffle_corpus

    p = str(tmp_path / "docs_shuf")
    spark.createDataFrame(
        [(i, "payload %d" % i) for i in range(200)], ["doc_id", "text"]
    ).write.parquet(p)
    out = shuffle_corpus(spark.read.parquet(p), "doc_id", num_partitions=4)
    plan = _plan(out)
    assert "SinglePartition" not in plan
    assert "text#" not in plan  # payload column pruned before the shuffle


def test_quality_gate_zero_shuffle_pure_expressions(spark, tmp_path):
    """quality_gate is ONE projection over the scan: no Exchange, no
    Python, single parquet scan — the pushdown-composable shape its
    docstring claims."""
    from webtext_extraction_spark.operators.textstats import quality_gate

    p = str(tmp_path / "docs_qg")
    spark.createDataFrame(
        [(i, "some words here for the gate %d" % i) for i in range(8)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(quality_gate(spark.read.parquet(p), "doc_id", "text"))
    assert _node_ids(plan, "Exchange") == 0
    assert _node_ids(plan, "ArrowEvalPython") == 0
    assert _node_ids(plan, "Scan parquet") == 1


def test_bm25_corpus_side_never_sort_merges(spark, tmp_path):
    """bm25_topk reaches the corpus tf table through BROADCAST joins
    only — a sort-merge there would shuffle the whole posting list on
    term strings."""
    from webtext_extraction_spark.operators.textstats import bm25_topk

    p = str(tmp_path / "docs_bm25")
    spark.createDataFrame(
        [(i, "alpha beta gamma delta word%d" % (i % 4)) for i in range(12)],
        ["doc_id", "text"],
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    qs = spark.createDataFrame(
        [(1, "alpha gamma"), (2, "beta word1")],
        ["query_id", "query_text"],
    )
    plan = _plan(bm25_topk(docs, "doc_id", "text", qs, k=3))
    assert _node_ids(plan, "SortMergeJoin") == 0
    assert _node_ids(plan, "BroadcastHashJoin") >= 2
    assert _node_ids(plan, "CartesianProduct") == 0


def test_bpe_pairs_explode_over_vocabulary_not_corpus(spark, tmp_path):
    """bpe_merge_candidates aggregates word frequencies BEFORE the
    pair explode (the Generate sits above the first HashAggregate in
    the tree, i.e. has a smaller node id in formatted explain), and
    the text column stays out of every Exchange."""
    import re as _re

    from webtext_extraction_spark.operators.textstats import (
        bpe_merge_candidates,
    )

    p = str(tmp_path / "docs_bpe")
    spark.createDataFrame(
        [(i, "lower newest wider low%d" % (i % 3)) for i in range(9)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(bpe_merge_candidates(spark.read.parquet(p), "text"))
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)
    # pair Generate consumes the word-frequency aggregate's output
    # (vocabulary), not the raw corpus: scan -> agg -> generate order
    gen_ids = [int(i) for i in _re.findall(r"Generate[^\n(]*\((\d+)\)", plan)]
    agg_ids = [int(i) for i in _re.findall(r"HashAggregate[^\n(]*\((\d+)\)", plan)]
    assert gen_ids and agg_ids
    # formatted-explain ids grow leaf -> root: at least one aggregate
    # (the word-frequency one) runs BELOW the pair Generate
    assert min(agg_ids) < max(gen_ids)


def test_pmi_bigrams_text_stays_out_of_exchanges(spark, tmp_path):
    import re as _re

    from webtext_extraction_spark.operators.textstats import pmi_bigrams

    p = str(tmp_path / "docs_pmi")
    spark.createDataFrame(
        [(i, "new york new york city hall %d" % i) for i in range(9)],
        ["doc_id", "text"],
    ).write.parquet(p)
    plan = _plan(pmi_bigrams(spark.read.parquet(p), "text", min_count=1))
    for m in _re.finditer(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\)|\Z)", plan, _re.S):
        assert "text#" not in m.group(0)
    assert _node_ids(plan, "CartesianProduct") == 0


def _plan_nodes(plan: str) -> list[tuple[str, str]]:
    """(node name, details) per node of a formatted plan, in node-id
    order — a scan's parent is numbered right after it."""
    import re as _re

    return _re.findall(r"^\(\d+\) ([^\n]*)\n((?:.+\n?)*)", plan, _re.M)


def _scan_filter_conditions(plan: str) -> list[str]:
    nodes = _plan_nodes(plan)
    return [
        details.split("Condition : ", 1)[1].split("\n", 1)[0]
        for (prev, _), (name, details) in zip(nodes, nodes[1:])
        if prev.startswith("Scan") and name.startswith("Filter")
    ]


def test_zero_token_guards_keep_tokenize_out_of_scan_filters(spark, tmp_path):
    """Four text operators drop zero-token docs with a cheap ``text
    RLIKE '\\S'`` scan Filter.  An explode of a bare array column lets
    InferFiltersFromGenerate add ``size(col) > 0`` there, which
    re-runs the tokenize (or the md5 hashing and minhash) on every
    scanned row — so no scan Filter may hold md5, transform or split."""
    from webtext_extraction_spark.operators.textstats import bm25_topk, repetition_profile

    p = str(tmp_path / "docs_guards")
    spark.createDataFrame(
        [(i, "alpha beta gamma delta word%d" % (i % 4)) for i in range(12)],
        ["doc_id", "text"],
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    qs = spark.createDataFrame([(1, "alpha gamma")], ["query_id", "query_text"])
    ops = {
        "minhash_lsh_pairs": dedup.minhash_lsh_pairs(docs, "doc_id", "text", 8, 4, 0.1),
        "bm25_topk": bm25_topk(docs, "doc_id", "text", qs, k=3),
        "repetition_profile": repetition_profile(docs, "doc_id", "text"),
        "containment_pairs": dedup.containment_pairs(docs, "doc_id", "text"),
    }
    for name, df in ops.items():
        conds = _scan_filter_conditions(_plan(df))
        assert conds, name
        for cond in conds:
            assert "RLIKE" in cond, (name, cond)
            for fn in ("md5(", "transform(", "split("):
                assert fn not in cond, (name, cond)


def test_minhash_fences_hold(spark, tmp_path):
    """The two Catalyst fences in minhash_lsh_pairs: the band buckets
    posexplode an inline array (a materialized column would let
    InferFiltersFromGenerate re-inline the minhash into the scan
    filter), and the Jaccard sits behind ``explode(array(jac))`` so
    the threshold never joins the join condition and array_intersect
    runs once per candidate pair."""
    p = str(tmp_path / "docs_minhash")
    spark.createDataFrame(
        [(i, f"w{i % 5} common tokens here") for i in range(20)], ["doc_id", "text"]
    ).write.parquet(p)
    plan = _plan(dedup.minhash_lsh_pairs(spark.read.parquet(p), "doc_id", "text", 8, 4, 0.1))
    nodes = _plan_nodes(plan)
    gens = [d for n, d in nodes if n.startswith("Generate")]
    assert any("posexplode(array(concat_ws(" in d for d in gens)
    barrier = [d for d in gens if "explode(array(round(" in d]
    assert len(barrier) == 1 and "array_intersect" in barrier[0]
    joins = [d for n, d in nodes if "Join" in n]
    assert joins
    for d in joins:
        assert "array_intersect" not in d
    filters = [d for n, d in nodes if n.startswith("Filter")]
    assert not any("array_intersect" in d for d in filters)
    assert any("jaccard" in d and ">= 0.1" in d for d in filters)
