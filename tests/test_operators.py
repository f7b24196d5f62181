"""Operator unit tests against independent pure-Python oracles
(dedup / similarity / textstats / relational)."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from webtext_extraction_spark.functions.text import portable_hash64_py
from webtext_extraction_spark.operators import dedup, similarity, textstats
from webtext_extraction_spark.operators.dedup import (
    MINHASH_PRIME,
    TOKEN_SPACE,
    _perm_params,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (2, "the quick brown fox leaps over the lazy dog"),          # near dup
    (3, "completely different text about spark partitions"),
    (4, "spark partitions and shuffle boundaries explained"),
    (5, "the quick brown fox jumps over the lazy cat today"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _py_minhash(text, num_hashes):
    ws = sorted(set(w for w in text.split() if w))
    hs = [portable_hash64_py(w) % TOKEN_SPACE for w in ws]
    return [
        min((h * a + b) % MINHASH_PRIME for h in hs)
        for a, b in _perm_params(num_hashes)
    ]


def test_minhash_signature_matches_python(docs_df):
    rows = dedup.with_minhash_signature(docs_df, "text", 8).select(
        "doc_id", "minhash"
    ).collect()
    for r in rows:
        expected = _py_minhash(DOCS[r["doc_id"]][1], 8)
        assert list(r["minhash"]) == expected


def test_minhash_lsh_finds_exact_and_near_dups(docs_df):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            docs_df, "doc_id", "text", num_hashes=8, bands=4, jaccard_threshold=0.5
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs  # near dup shares 8/10 words
    assert (0, 3) not in pairs


def test_simhash_matches_python(docs_df):
    def py_simhash(text, bits=32):
        ws = set(w for w in text.split() if w)
        hs = [portable_hash64_py(w) for w in ws]
        out = 0
        for b in range(bits):
            vote = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if vote > 0:
                out |= 1 << b
        return out

    rows = dedup.with_simhash(docs_df, "text").select("doc_id", "simhash").collect()
    for r in rows:
        assert r["simhash"] == py_simhash(DOCS[r["doc_id"]][1])


def test_simhash_pairs_find_upper_bit_neighbors(spark):
    """Planted pair differing ONLY in the upper 16 fingerprint bits —
    invisible to the old single-prefix bucketing, found by the
    pigeonhole block permutation.  Single-token texts make
    simhash == low 32 bits of portable_hash64(token); tok2419/tok6003
    were searched offline: hamming 3, identical low-16 halves."""
    a, b = "tok2419", "tok6003"
    sa = portable_hash64_py(a) & 0xFFFFFFFF
    sb = portable_hash64_py(b) & 0xFFFFFFFF
    assert sa != sb and (sa ^ sb) & 0xFFFF == 0  # upper-bits-only diff
    assert bin(sa ^ sb).count("1") <= 3
    assert (sa >> 16) != (sb >> 16)  # the old bucket would separate them
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, "unrelated words entirely"), (3, "other filler text")],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_duplicates(df, "doc_id", "text", max_hamming=3).collect()
    }
    assert pairs.get((0, 1)) == bin(sa ^ sb).count("1")


def test_simhash_pairs_match_bruteforce(spark):
    """Pigeonhole completeness: operator output == exact all-pairs
    hamming filter, for every max_hamming tried."""
    texts = [(i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(6))) for i in range(30)]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    sims = {r["doc_id"]: r["simhash"] for r in dedup.with_simhash(df, "text").collect()}
    for d in (1, 3, 8):
        expected = {
            (i, j): bin(sims[i] ^ sims[j]).count("1")
            for i in sims
            for j in sims
            if i < j and bin(sims[i] ^ sims[j]).count("1") <= d
        }
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in dedup.simhash_near_duplicates(
                df, "doc_id", "text", max_hamming=d
            ).collect()
        }
        assert got == expected, f"max_hamming={d}"


def test_boilerplate_ngrams_finds_shared_phrase(spark):
    shared = "subscribe to our newsletter today"
    df = spark.createDataFrame(
        [
            (0, f"intro words {shared} more text here"),
            (1, f"{shared} and something different"),
            (2, f"unrelated body then {shared}"),
            (3, "totally distinct content with no repeats"),
            (4, "short"),  # fewer words than n → no grams, no crash
        ],
        ["doc_id", "text"],
    )
    rows = dedup.boilerplate_ngrams(df, "doc_id", "text", n=5, min_docs=3).collect()
    grams = {r["ngram"]: r["n_docs"] for r in rows}
    assert grams.get(shared) == 3
    # within-doc repetition must not inflate the document frequency
    df2 = spark.createDataFrame(
        [(0, f"{shared} {shared} {shared}"), (1, "x y z w v")], ["doc_id", "text"]
    )
    rows2 = dedup.boilerplate_ngrams(df2, "doc_id", "text", n=5, min_docs=2).collect()
    assert rows2 == []


def test_connected_components_chains_and_singletons(spark):
    """Multi-hop chains force several propagation rounds; singletons
    keep their own id; disjoint clusters stay disjoint."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 10, 11, 20, 21)], ["node"]
    )
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(pairs, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 10: 10, 11: 10, 20: 20, 21: 20}

    # a 12-node path: min label must travel the whole chain
    chain = spark.createDataFrame([(i, i + 1) for i in range(12)], ["id_a", "id_b"])
    cnodes = spark.createDataFrame([(i,) for i in range(13)], ["node"])
    cc = {
        r["node"]: r["component"]
        for r in dedup.connected_components(chain, cnodes).collect()
    }
    assert all(v == 0 for v in cc.values())


def test_connected_components_warns_when_unconverged(spark):
    """ADVICE r02: hitting max_iterations with labels still moving must
    warn, not silently return split clusters."""
    import warnings

    chain = spark.createDataFrame([(i, i + 1) for i in range(30)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(31)], ["node"])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = dedup.connected_components(chain, nodes, max_iterations=3)
        got.collect()
        assert any("did not converge" in str(x.message) for x in w)


def test_connected_components_check_every_still_converges(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11)], ["node"])
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(pairs, nodes, check_every=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_star_long_path(spark):
    """VERDICT r02 #4: a path graph LONGER than 2× the min-label default
    round budget resolves correctly (and in O(log n) rounds) under the
    large/small-star variant."""
    n = 50  # diameter 50 > 2 × 20 default rounds of min-label
    chain = spark.createDataFrame([(i, i + 1) for i in range(n)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(n + 1)], ["node"])
    cc = {
        r["node"]: r["component"]
        for r in dedup.connected_components_star(
            chain, nodes, max_iterations=12
        ).collect()
    }
    assert len(cc) == n + 1
    assert all(v == 0 for v in cc.values())


def test_connected_components_star_matches_min_label(spark):
    """Star and min-label agree on a mixed graph (cliques + chain +
    singletons), including node ids that never appear in pairs."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (7, 7)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 7, 10, 11, 20, 21)], ["node"]
    )
    star = {
        r["node"]: r["component"]
        for r in dedup.connected_components_star(pairs, nodes).collect()
    }
    label = {
        r["node"]: r["component"]
        for r in dedup.connected_components(pairs, nodes).collect()
    }
    assert star == label
    assert star[5] == 5 and star[7] == 7  # singleton + self-loop


def test_simhash_bits_forwarded(spark):
    """ADVICE r02: the bits parameter must reach with_simhash — a
    48-bit run produces fingerprints that need >32 bits, and bits>63
    is rejected."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta") for i in range(40)],
        ["doc_id", "text"],
    )
    sh48 = dedup.with_simhash(df, "text", bits=48).select("simhash").collect()
    assert any(r["simhash"] >= (1 << 32) for r in sh48)
    # pairs path forwards bits: runs clean and self-consistently
    pairs = dedup.simhash_near_duplicates(df, "doc_id", "text", max_hamming=2, bits=48)
    for r in pairs.collect():
        assert r["hamming"] <= 2
    with _pytest.raises(ValueError, match="bits"):
        dedup.with_simhash(df, "text", bits=64)


def test_exact_duplicates(docs_df):
    clusters = dedup.exact_duplicates(docs_df, "doc_id", "text").collect()
    assert len(clusters) == 1
    assert clusters[0]["n_dups"] == 2 and clusters[0]["keeper_id"] == 0


def test_ordered_distinct_first_occurrence(spark):
    df = spark.createDataFrame(
        [("u", 3, "c"), ("u", 1, "a"), ("u", 2, "b"), ("v", 9, "z")],
        ["k", "pos", "val"],
    )
    out = {(r["k"], r["val"]) for r in dedup.ordered_distinct(df, "k", "pos").collect()}
    assert out == {("u", "a"), ("v", "z")}


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = [[((i * 7 + j * 13) % 17) / 17.0 for j in range(8)] for i in range(20)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng)], ["vec_id", "embedding"]
    )
    out = similarity.cosine_topk(df, query_ids=[0], k=3).collect()
    a = np.array(rng)
    q = a[0]
    cos = a @ q / (np.linalg.norm(a, axis=1) * np.linalg.norm(q))
    cos[0] = -2
    expected = np.argsort([(-round(c, 6), i) for i, c in enumerate(cos)], axis=0)
    top = sorted(range(20), key=lambda i: (-round(cos[i], 6), i))[:3]
    assert [r["neighbor_id"] for r in out] == top
    for r in out:
        assert abs(r["cos"] - round(float(cos[r["neighbor_id"]]), 6)) < 1e-9


def test_lsh_ann_is_subset_of_bruteforce_space(spark):
    vecs = [
        (i, [math.sin(i * 0.7 + j) for j in range(64)]) for i in range(40)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    ann = similarity.lsh_ann_topk(df, query_ids=[0], k=5).collect()
    assert 0 < len(ann) <= 5
    bucketed = {r["vec_id"]: r["bucket"] for r in similarity.with_lsh_bucket(df).collect()}
    for r in ann:  # every returned neighbor shares the query's bucket
        assert bucketed[r["neighbor_id"]] == bucketed[0]


def test_fingerprint_matches_python(docs_df):
    def py_fp(text):
        acc = 0
        for w in text.split():
            if w:
                acc = (acc * 31 + portable_hash64_py(w) % textstats.FP_TOKEN_MOD) % textstats.FP_MOD
        return acc

    rows = textstats.text_profile(docs_df, "doc_id", "text").collect()
    for r in rows:
        assert r["fingerprint"] == py_fp(DOCS[r["doc_id"]][1])
        assert r["ws_tokens"] == len(DOCS[r["doc_id"]][1].split())
        assert r["lang_pred"] == "en"
        assert 0.0 <= r["quality"] <= 1.0


def test_lang_id_japanese(spark):
    df = spark.createDataFrame(
        [(0, "これは日本語の文章でありテストのための十分な長さを持つ")], ["doc_id", "text"]
    )
    row = textstats.text_profile(df, "doc_id", "text").first()
    assert row["lang_pred"] == "ja"


def test_ivf_ann_cell_assignment_matches_numpy(spark):
    import numpy as np

    from webtext_extraction_spark.operators.similarity import (
        default_centroids,
        ivf_ann_topk,
        with_ivf_cell,
    )

    vecs = [(i, [math.sin(i * 0.7 + j) for j in range(16)]) for i in range(40)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    centroids = default_centroids(df, k=4)
    cells = {r["vec_id"]: r["cell"] for r in with_ivf_cell(df, centroids).collect()}

    a = np.array([v for _, v in vecs])
    c = np.array(centroids)
    expected = ((a[:, None, :] - c[None, :, :]) ** 2).sum(-1).argmin(1)
    for i in range(40):
        assert cells[i] == expected[i]

    ann = ivf_ann_topk(df, query_ids=[5], k=3, n_cells=4)
    rows = ann.collect()
    assert 0 < len(rows) <= 3
    for r in rows:  # every neighbor shares the query's cell
        assert cells[r["neighbor_id"]] == cells[5]

    # multi-probe: neighbors drawn from the query's 2 nearest cells,
    # and the candidate pool strictly contains the single-probe one
    q = a[5]
    probe2 = set(((c - q) ** 2).sum(-1).argsort()[:2])
    rows2 = ivf_ann_topk(df, query_ids=[5], k=10, n_cells=4, n_probe=2).collect()
    assert {cells[r["neighbor_id"]] for r in rows2} <= probe2
    single_ids = {r["neighbor_id"] for r in ivf_ann_topk(df, query_ids=[5], k=10, n_cells=4).collect()}
    assert single_ids <= {r["neighbor_id"] for r in rows2}


def test_int8_quantized_topk_matches_exact(spark):
    import numpy as np

    from webtext_extraction_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_int8,
        with_int8_quantization,
    )

    vecs = [(i, [math.sin(i * 0.7 + j) + 0.01 * j for j in range(16)]) for i in range(60)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])

    # quantization error bound: |dequant - x| <= scale/254 (+fp slop)
    qrows = with_int8_quantization(df).collect()
    for r in qrows[:10]:
        x = np.array(r["embedding"])
        s = r["q_scale"]
        deq = np.array(r["qvec"]) * s / 127.0
        assert np.abs(deq - x).max() <= s / 254 + 1e-9

    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(df, query_ids=[0, 7], k=5).collect()
    }
    quant = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk_int8(df, query_ids=[0, 7], k=5, rerank_factor=4).collect()
    }
    # exact rerank over the quantized shortlist recovers the true top-k
    assert quant == exact

    # zero vector quantizes to zeros without dividing by zero
    z = spark.createDataFrame([(0, [0.0] * 8), (1, [1.0] * 8)], ["vec_id", "embedding"])
    zr = {r["vec_id"]: list(r["qvec"]) for r in with_int8_quantization(z).collect()}
    assert zr[0] == [0] * 8 and zr[1] == [127] * 8


def test_kmeans_centroids_match_numpy_lloyd(spark):
    import numpy as np

    from webtext_extraction_spark.operators.similarity import (
        default_centroids,
        kmeans_centroids,
    )

    vecs = [(i, [math.sin(i * 0.9 + j) for j in range(8)]) for i in range(50)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = kmeans_centroids(df, k=4, iters=2)

    a = np.array([v for _, v in vecs])
    c = np.array(default_centroids(df, k=4))
    for _ in range(2):
        assign = ((a[:, None, :] - c[None, :, :]) ** 2).sum(-1).argmin(1)
        rows = []
        for j in range(4):
            members = a[assign == j]
            rows.append(np.round(members.mean(0), 6) if len(members) else c[j])
        c = np.array(rows)
    assert np.allclose(np.array(got), c, atol=1e-9)


def test_null_and_empty_payloads(spark):
    df = spark.createDataFrame(
        [("c0", 0, "user", None, None, None), ("c0", 1, "user", "", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    from webtext_extraction_spark.operators.extraction import extract_turns

    rows = {r["turn_idx"]: r for r in extract_turns(df).collect()}
    assert rows[0]["status"] == "failure_template"
    assert rows[1]["status"] == "failure_template"
    assert rows[0]["extracted_text"].startswith("すべての抽出方法で")


def test_multimodal_decoder_seam(spark):
    """A batch mixing payload formats routes every row to its own
    decoder through the Spark UDF: PDF magic selects the PDF decoder
    whatever the tool, ``tool='pdf'`` forces it on a payload without
    magic, HTML goes to the DOM path, and ``tool='timeout'`` wins over
    every format."""
    from webtext_extraction_spark.fixtures_pages import h01_main_article
    from webtext_extraction_spark.operators.extraction import extract_turns

    pdf = "%PDF-SYNTH\n%%page 1\nalpha line\n%%page 2 broken\nGARBLED\n%%page 3\nomega line"
    html = h01_main_article(7)
    df = spark.createDataFrame(
        [
            ("c0", 0, "user", pdf, "fetch", None),
            ("c0", 1, "user", pdf.replace("%PDF-SYNTH\n", ""), "pdf", None),
            ("c0", 2, "user", html, "fetch", None),
            ("c0", 3, "user", html, "pdf", None),
            ("c0", 4, "user", pdf, "timeout", None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = {r["turn_idx"]: r for r in extract_turns(df).collect()}

    assert (rows[0]["strategy"], rows[0]["status"]) == ("pdf", "ok")
    assert rows[0]["extracted_text"] == "alpha line\nomega line"
    for i in (1, 3):  # forced PDF decode of a magic-less payload is corrupt
        assert (rows[i]["strategy"], rows[i]["status"]) == ("pdf", "failure_template")
        assert rows[i]["extracted_text"].startswith("PDFファイルの処理中にエラーが発生しました")
    assert rows[2]["strategy"] != "pdf" and rows[2]["status"] == "ok"
    assert "GARBLED" not in rows[2]["extracted_text"]
    assert rows[4]["status"] == "timeout"
    assert rows[4]["extracted_text"] == "（テキスト抽出タイムアウト）"


def test_make_extract_udf_rejects_unsupported_selectors(spark):
    """Runtime rule tables are validated at broadcast time: an
    unsupported selector must fail the job setup loudly instead of
    being silently contained into per-row failure rows (round-3
    review finding)."""
    import pytest as _pytest

    from webtext_extraction_spark.operators.extraction import make_extract_udf

    with _pytest.raises(ValueError):
        make_extract_udf(spark, {"example.com": ["div > p"]})
    make_extract_udf(spark, {"example.com": [".article", "div.x + p"]})  # supported


# ---------------------------------------------------------------------------
# repetition profile (Gopher-style filters) + decontamination
# ---------------------------------------------------------------------------


def test_repetition_profile_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (0, "a a b"),
            (1, "x y z w v x y z w v"),
            (2, ""),  # zero words: drops out (documented)
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in textstats.repetition_profile(df, "doc_id", "text").collect()
    }
    assert set(rows) == {0, 1}
    r0 = rows[0]
    assert r0["n_words"] == 3
    assert r0["dup_word_frac"] == round((3 - 2) / 3, 6)
    # 'a' occurs twice: dup char mass 2*1 over total word mass 3*1
    assert r0["dup_word_char_frac"] == round(2 / 3, 6)
    # bigrams 'a a' and 'a b' both c=1 -> struct max picks 'a b';
    # 1 * len('a b') / len('a a b') = 3/5
    assert r0["top_ngram_char_frac"] == round(3 / 5, 6)
    assert r0["dup_ngram_char_frac"] == 0.0  # no repeated 5-gram
    r1 = rows[1]
    # 'x y z w v' repeats: all 10 words are dup occurrences
    assert r1["n_words"] == 10
    assert r1["dup_word_frac"] == round(5 / 10, 6)
    assert r1["dup_word_char_frac"] == 1.0
    # 5-gram 'x y z w v' occurs at offsets 0 and 5 -> mass 2*9; chars 19
    assert r1["dup_ngram_char_frac"] == round(2 * 9 / 19, 6)


def test_repetition_top_ngram_tie_breaks_to_greatest_gram(spark):
    # 'b c' occurs twice -> unambiguous winner over 'a b'/'c a'
    df = spark.createDataFrame([(0, "b c a b c")], ["doc_id", "text"])
    r = textstats.repetition_profile(df, "doc_id", "text").collect()[0]
    assert r["top_ngram_char_frac"] == round(2 * 3 / 9, 6)


def test_decontaminate_hand_computed(spark):
    from webtext_extraction_spark.operators import contamination

    docs = spark.createDataFrame(
        [
            (0, "p q r s t u"),      # grams: pqrs qrst rstu -> one hit (qrst)
            (1, "a b c"),            # too short for 4-grams
            (2, "m n o p"),          # one gram, no hit
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, "z z q r s t z")], ["doc_id", "text"])
    rows = {
        r["doc_id"]: r
        for r in contamination.decontaminate(
            docs, bench, "doc_id", "text", n=4
        ).collect()
    }
    assert set(rows) == {0, 1, 2}
    assert (rows[0]["n_grams"], rows[0]["hit_grams"]) == (3, 1)
    assert rows[0]["contamination_frac"] == round(1 / 3, 6)
    assert rows[0]["contaminated"] is True
    assert (rows[1]["n_grams"], rows[1]["hit_grams"]) == (0, 0)
    assert rows[1]["contamination_frac"] == 0.0
    assert rows[1]["contaminated"] is False
    assert (rows[2]["n_grams"], rows[2]["hit_grams"]) == (1, 0)
    assert rows[2]["contaminated"] is False


def test_decontaminate_repeated_gram_counted_once(spark):
    from webtext_extraction_spark.operators import contamination

    # the same 4-gram appears twice in the doc; distinct-gram counting
    # must report n_grams=4 (7 positions, 4 distinct), hit once
    docs = spark.createDataFrame([(0, "a b c d a b c d a b")], ["doc_id", "text"])
    bench = spark.createDataFrame([(1, "x a b c d x")], ["doc_id", "text"])
    r = contamination.decontaminate(docs, bench, "doc_id", "text", n=4).collect()[0]
    assert r["n_grams"] == 4
    assert r["hit_grams"] == 1


# ---------------------------------------------------------------------------
# conversation-level operators (training pairs, conversation dedup)
# ---------------------------------------------------------------------------


def test_conversation_pairs_hand_computed(spark):
    from webtext_extraction_spark.operators import conversations

    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "hi"),
            ("c1", 1, "assistant", "hello"),
            ("c1", 2, "user", "how are you"),
            ("c1", 3, "assistant", "fine"),
            ("c2", 0, "assistant", "opener"),  # no context at idx 0
        ],
        ["conv_id", "turn_idx", "role", "text"],
    )
    rows = {
        (r["conv_id"], r["turn_idx"]): r
        for r in conversations.conversation_pairs(df, context_turns=2).collect()
    }
    assert set(rows) == {("c1", 1), ("c1", 3), ("c2", 0)}
    assert rows[("c1", 1)]["prompt"] == "user: hi"
    assert rows[("c1", 1)]["completion"] == "hello"
    assert rows[("c1", 1)]["n_context"] == 1
    # context_turns=2 truncates: only turns 1 and 2 remain in window
    assert rows[("c1", 3)]["prompt"] == "assistant: hello\nuser: how are you"
    assert rows[("c1", 3)]["n_context"] == 2
    assert rows[("c2", 0)]["prompt"] == ""
    assert rows[("c2", 0)]["n_context"] == 0


def test_conversation_digest_order_sensitive(spark):
    from webtext_extraction_spark.operators import conversations

    df = spark.createDataFrame(
        [
            ("a", 0, "x"), ("a", 1, "y"),
            ("b", 0, "x"), ("b", 1, "y"),   # exact dup of a
            ("c", 0, "y"), ("c", 1, "x"),   # same turns, other order
        ],
        ["conv_id", "turn_idx", "text"],
    )
    rows = {
        r["conv_id"]: r for r in conversations.conversation_digest(df).collect()
    }
    assert rows["a"]["digest"] == rows["b"]["digest"]
    assert rows["a"]["digest"] != rows["c"]["digest"]  # order matters
    assert rows["a"]["is_keeper"] is True
    assert rows["b"]["is_keeper"] is False
    assert rows["b"]["keeper_conv"] == "a"
    assert rows["c"]["is_keeper"] is True
    assert rows["a"]["n_turns"] == 2


def test_degenerate_size_params_raise(spark):
    import pytest as _pytest

    from webtext_extraction_spark.operators import contamination, conversations

    df = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        textstats.repetition_profile(df, "doc_id", "text", top_n=0)
    with _pytest.raises(ValueError):
        textstats.repetition_profile(df, "doc_id", "text", dup_n=0)
    with _pytest.raises(ValueError):
        contamination.decontaminate(df, df, "doc_id", "text", n=0)
    cdf = spark.createDataFrame([("c", 0, "user", "x")], ["conv_id", "turn_idx", "role", "text"])
    with _pytest.raises(ValueError):
        conversations.conversation_pairs(cdf, context_turns=0)


def test_conversation_pairs_null_text_is_empty_line(spark):
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )
    from webtext_extraction_spark.operators import conversations

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
        ]
    )
    df = spark.createDataFrame(
        [("c", 0, "user", None), ("c", 1, "assistant", "ok")], schema
    )
    r = conversations.conversation_pairs(df, context_turns=2).collect()
    by_idx = {x["turn_idx"]: x for x in r}
    # NULL context text renders as 'user: ' (kept as a line), matching
    # the SQL oracle's coalesce(text, '')
    assert by_idx[1]["prompt"] == "user: "
    assert by_idx[1]["n_context"] == 1


def test_pack_sequences_hand_computed(spark):
    # tokens: a=3, b=4, c=2, d=5 ; budget=6
    # exclusive cumsum: a:0 b:3 c:7 d:9 -> bins a,b=0 c,d=1
    df = spark.createDataFrame(
        [(0, "x y z"), (1, "p q r s"), (2, "m n"), (3, "a b c d e")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in textstats.pack_sequences(df, "doc_id", "text", budget=6).collect()}
    assert [rows[i]["bin_id"] for i in range(4)] == [0, 0, 1, 1]
    assert rows[0]["bin_tokens"] == 7 and rows[0]["bin_docs"] == 2  # straddle: 3+4 > 6
    assert rows[2]["bin_tokens"] == 7 and rows[2]["bin_docs"] == 2
    with pytest.raises(ValueError):
        textstats.pack_sequences(df, "doc_id", "text", budget=0)


def test_pack_sequences_nonunique_order_tiebreaks_by_id(spark):
    # all rows tie on order_col -> positions must fall back to id order
    df = spark.createDataFrame(
        [(0, "x y z", "same"), (1, "p q r s", "same"), (2, "m n", "same"), (3, "a b c d e", "same")],
        ["doc_id", "text", "grp"],
    )
    via_grp = {
        r["doc_id"]: r["bin_id"]
        for r in textstats.pack_sequences(df, "doc_id", "text", budget=6, order_col="grp").collect()
    }
    via_id = {
        r["doc_id"]: r["bin_id"]
        for r in textstats.pack_sequences(df, "doc_id", "text", budget=6).collect()
    }
    assert via_grp == via_id


def test_pack_sequences_matches_sequential_reference_on_shuffled_input(spark):
    # the range-partitioned formulation (per-partition running sums +
    # driver offsets) must reproduce the sequential exclusive-cumsum
    # rule exactly, regardless of input partitioning / row order
    import random

    rnd = random.Random(7)
    docs = [(i, "w " * rnd.randint(1, 9)) for i in range(200)]
    rnd.shuffle(docs)
    df = spark.createDataFrame(docs, ["doc_id", "text"]).repartition(7)
    rows = {
        r["doc_id"]: r
        for r in textstats.pack_sequences(
            df, "doc_id", "text", budget=16, num_partitions=5
        ).collect()
    }
    toks = {i: len(t.split()) for i, t in docs}
    acc, expect_bin, bin_toks, bin_docs = 0, {}, {}, {}
    for i in sorted(toks):
        b = acc // 16
        expect_bin[i] = b
        bin_toks[b] = bin_toks.get(b, 0) + toks[i]
        bin_docs[b] = bin_docs.get(b, 0) + 1
        acc += toks[i]
    assert len(rows) == 200
    for i in sorted(toks):
        assert rows[i]["tokens"] == toks[i]
        assert rows[i]["bin_id"] == expect_bin[i], i
        assert rows[i]["bin_tokens"] == bin_toks[expect_bin[i]]
        assert rows[i]["bin_docs"] == bin_docs[expect_bin[i]]


def test_new_operator_invariants_on_random_corpus(spark):
    """Property sweep over a seeded random corpus: metric bounds,
    packing completeness/contiguity, decontamination set sanity."""
    import random as _random

    from webtext_extraction_spark.operators import contamination

    rng = _random.Random(42)
    vocab = ["aa", "b", "ccc", "dd", "e", "ffff", "g", "hh"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    rep = textstats.repetition_profile(df, "doc_id", "text").collect()
    nonempty = {i for i, t in docs if t.split()}
    assert {r["doc_id"] for r in rep} == nonempty
    for r in rep:
        assert 0.0 <= r["dup_word_frac"] <= 1.0
        assert 0.0 <= r["dup_word_char_frac"] <= 1.0
        assert r["top_ngram_char_frac"] >= 0.0
        assert r["dup_ngram_char_frac"] >= 0.0  # documented: can exceed 1

    bench = spark.createDataFrame(docs[30:], ["doc_id", "text"])
    dec = contamination.decontaminate(df, bench, "doc_id", "text", n=3).collect()
    assert {r["doc_id"] for r in dec} == {i for i, _ in docs}  # every doc kept
    for r in dec:
        assert 0 <= r["hit_grams"] <= r["n_grams"]
        assert 0.0 <= r["contamination_frac"] <= 1.0
        assert r["contaminated"] == (r["hit_grams"] > 0)
    # bench docs score as fully contaminated against themselves when
    # they have any grams at all
    for r in dec:
        if r["doc_id"] >= 30 and r["n_grams"] > 0:
            assert r["contamination_frac"] == 1.0

    packed = textstats.pack_sequences(df, "doc_id", "text", budget=20).collect()
    assert {r["doc_id"] for r in packed} == {i for i, _ in docs}  # complete
    by_id = sorted(packed, key=lambda r: r["doc_id"])
    bins = [r["bin_id"] for r in by_id]
    assert bins == sorted(bins)  # contiguous in pack order
    # per-bin rollups agree with the row-level tokens
    from collections import defaultdict

    tok_sum, doc_n = defaultdict(int), defaultdict(int)
    for r in by_id:
        tok_sum[r["bin_id"]] += r["tokens"]
        doc_n[r["bin_id"]] += 1
    for r in by_id:
        assert r["bin_tokens"] == tok_sum[r["bin_id"]]
        assert r["bin_docs"] == doc_n[r["bin_id"]]
    # every bin except possibly the last STARTED before its boundary:
    # exclusive start offset of each bin's first doc < (k+1)*budget
    start = 0
    cur = None
    for r in by_id:
        if r["bin_id"] != cur:
            cur = r["bin_id"]
            assert cur * 20 <= start < (cur + 1) * 20
        start += r["tokens"]


def test_remove_boilerplate_hand_computed(spark):
    # 'subscribe to our newsletter' (4 words) appears in 3 docs ->
    # boilerplate at n=3 min_docs=3 via its two 3-gram windows; the
    # 2-doc phrase 'rare shared phrase' must survive
    df = spark.createDataFrame(
        [
            (0, "alpha subscribe to our newsletter beta"),
            (1, "subscribe to our newsletter gamma delta"),
            (2, "epsilon zeta subscribe to our newsletter"),
            (3, "rare shared phrase one"),
            (4, "rare shared phrase two"),
            (5, "xy zz"),  # shorter than n: untouched
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.remove_boilerplate(df, "doc_id", "text", n=3, min_docs=3).collect()
    }
    assert rows[0]["cleaned_text"] == "alpha beta"
    assert rows[1]["cleaned_text"] == "gamma delta"
    assert rows[2]["cleaned_text"] == "epsilon zeta"
    assert rows[0]["n_removed_words"] == 4
    assert rows[0]["removed_frac"] == round(4 / 6, 6)
    assert rows[3]["cleaned_text"] == "rare shared phrase one"  # only 2 docs
    assert rows[5]["cleaned_text"] == "xy zz"
    assert rows[5]["n_removed_words"] == 0


def test_remove_boilerplate_methods_and_supplied_grams_agree(spark):
    """The driver-set apply path (default), the lazy join path, and a
    supplied precomputed gram table must all produce identical rows —
    including grams learned on a DIFFERENT corpus slice (the
    per-snapshot-artifact reuse pattern)."""
    import random

    rnd = random.Random(11)
    vocab = ["w%d" % i for i in range(30)]
    boiler_phrase = "follow us on social media now"
    docs = []
    for i in range(40):
        body = " ".join(rnd.choice(vocab) for _ in range(rnd.randint(3, 12)))
        docs.append((i, body + (" " + boiler_phrase if i % 2 == 0 else "")))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    train = df.filter(F.col("doc_id") < 20)
    target = df.filter(F.col("doc_id") >= 20)

    def rows(out):
        return sorted(tuple(r) for r in out.collect())

    inline_set = rows(dedup.remove_boilerplate(df, "doc_id", "text", n=3, min_docs=5))
    inline_join = rows(
        dedup.remove_boilerplate(df, "doc_id", "text", n=3, min_docs=5, method="join")
    )
    assert inline_set == inline_join

    grams = dedup.boilerplate_ngrams(train, "doc_id", "text", n=3, min_docs=5)
    sup_set = rows(
        dedup.remove_boilerplate(target, "doc_id", "text", n=3, grams=grams)
    )
    sup_join = rows(
        dedup.remove_boilerplate(
            target, "doc_id", "text", n=3, grams=grams, method="join"
        )
    )
    assert sup_set == sup_join
    # the transferred grams actually strip something on the target side
    assert any(r[3] > 0 for r in sup_set)
    # empty gram table: everything survives untouched
    empty = grams.filter(F.lit(False))
    untouched = rows(dedup.remove_boilerplate(target, "doc_id", "text", n=3, grams=empty))
    assert all(r[3] == 0 for r in untouched)
    with pytest.raises(ValueError):
        dedup.remove_boilerplate(df, "doc_id", "text", method="nope")


def test_new_ops_null_text_behavior(spark):
    """NULL payloads pinned across the new operators (cross-engine
    parity class: Spark size(NULL)/DuckDB len(NULL) both propagate
    NULL into the documented drop/empty behavior)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from webtext_extraction_spark.operators import contamination, conversations

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame([(0, None), (1, "a b c d e f")], schema)

    rep = textstats.repetition_profile(df, "doc_id", "text").collect()
    assert {r["doc_id"] for r in rep} == {1}  # NULL text drops like empty

    dec = contamination.decontaminate(df, df, "doc_id", "text", n=4).collect()
    by_id = {r["doc_id"]: r for r in dec}
    assert by_id[0]["n_grams"] == 0 and by_id[0]["contaminated"] is False
    assert by_id[1]["contaminated"] is True  # self-bench

    rb = dedup.remove_boilerplate(df, "doc_id", "text", n=3, min_docs=2).collect()
    by_id = {r["doc_id"]: r for r in rb}
    assert by_id[0]["cleaned_text"] == "" and by_id[0]["n_words"] == 0

    cschema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", LongType()),
            StructField("text", StringType()),
        ]
    )
    cdf = spark.createDataFrame(
        [("a", 0, None), ("a", 1, "x"), ("b", 0, "x")], cschema
    )
    dg = {r["conv_id"]: r for r in conversations.conversation_digest(cdf).collect()}
    # a NULL turn hashes to the 'null' sentinel, so [NULL, 'x'] must
    # NOT collide with ['x'] — the digest stays injective over turn
    # sequences (review-found: the earlier concat_ws NULL-skip made
    # these equal and dedup would have dropped a distinct conversation)
    assert dg["a"]["digest"] != dg["b"]["digest"]
    assert dg["a"]["n_turns"] == 2 and dg["b"]["n_turns"] == 1
    assert dg["a"]["is_keeper"] is True and dg["b"]["is_keeper"] is True


def test_sample_mix_deterministic_and_rate_accurate(spark):
    from webtext_extraction_spark.functions.text import portable_hash64_py

    df = spark.createDataFrame(
        [(i, "src%d" % (i % 2)) for i in range(400)], ["doc_id", "source"]
    )
    kept = textstats.sample_mix(
        df, "doc_id", "source", rates={"src0": 0.3}, default_rate=1.0
    ).collect()
    ids = sorted(r["doc_id"] for r in kept)
    # python replay of the ticket rule — exact row-level agreement
    def ticket(i):
        return portable_hash64_py(f"mix-v1|{i}") % 1_000_000

    expect = sorted(
        i for i in range(400)
        if (ticket(i) < 300_000 if i % 2 == 0 else True)
    )
    assert ids == expect
    n_src0 = sum(1 for i in ids if i % 2 == 0)
    assert 40 <= n_src0 <= 80  # ~60 expected of 200 at 30%
    assert sum(1 for i in ids if i % 2 == 1) == 200  # default rate keeps all
    # salt independence: different salt -> different (not disjointness-
    # guaranteed, but non-identical) sample of src0
    kept2 = {
        r["doc_id"]
        for r in textstats.sample_mix(
            df, "doc_id", "source", rates={"src0": 0.3}, salt="mix-v2"
        ).collect()
    }
    assert kept2 != set(ids)
    import pytest as _p

    with _p.raises(ValueError):
        textstats.sample_mix(df, "doc_id", "source", rates={"src0": 1.5})


def test_split_corpus_python_replay_and_contract(spark):
    from webtext_extraction_spark.functions.text import portable_hash64_py

    df = spark.createDataFrame([(i,) for i in range(500)], ["doc_id"])
    got = {
        r["doc_id"]: r["split"]
        for r in textstats.split_corpus(
            df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }

    def ticket(i):
        return portable_hash64_py(f"split-v1|{i}") % 1_000_000

    for i in range(500):
        t = ticket(i)
        exp = "train" if t < 800_000 else ("val" if t < 900_000 else "test")
        assert got[i] == exp, i
    counts = {s: sum(1 for v in got.values() if v == s) for s in ("train", "val", "test")}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert sum(counts.values()) == 500  # total function: every row lands somewhere

    # single split, and the dict-order contract (reordering re-draws)
    one = {r["split"] for r in textstats.split_corpus(df, "doc_id", {"all": 1.0}).collect()}
    assert one == {"all"}
    flipped = {
        r["doc_id"]: r["split"]
        for r in textstats.split_corpus(
            df, "doc_id", {"test": 0.1, "val": 0.1, "train": 0.8}
        ).collect()
    }
    assert flipped != got  # boundaries moved with the order

    with pytest.raises(ValueError):
        textstats.split_corpus(df, "doc_id", {"a": 0.5, "b": 0.4})  # sums to 0.9
    with pytest.raises(ValueError):
        textstats.split_corpus(df, "doc_id", {})
    with pytest.raises(ValueError):
        textstats.split_corpus(df, "doc_id", {"a": 1.5, "b": -0.5})


def test_sample_stratified_python_replay_and_contract(spark):
    import hashlib as _hl

    rows = [(i, "g%d" % (i % 3)) for i in range(120)] + [(200, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, g string")
    got = [(r["g"], r["doc_id"], r["rk"]) for r in
           textstats.sample_stratified(df, "g", "doc_id", k=4)
           .orderBy("g", "rk").collect()]

    def ticket(i):
        return int(_hl.md5(f"strat-v1|{i}".encode()).hexdigest()[:15], 16)

    exp = []
    for g in ("g0", "g1", "g2", "tiny"):
        ids = sorted((i for i, gg in rows if gg == g),
                     key=lambda i: (ticket(i), i))[:4]
        exp += [(g, i, rk + 1) for rk, i in enumerate(ids)]
    assert got == exp
    # a group smaller than k yields all its rows, never pads
    assert [t for t in got if t[0] == "tiny"] == [("tiny", 200, 1)]
    # different salt draws a different sample (overwhelmingly)
    other = [(r["g"], r["doc_id"]) for r in
             textstats.sample_stratified(df, "g", "doc_id", k=4,
                                         salt="strat-v2").collect()]
    assert set(other) != {(g, i) for g, i, _ in got}


def test_sample_stratified_sharded_equals_plain(spark):
    """Two-stage (hot-group-safe) formulation returns the IDENTICAL
    row set: top-k of per-shard top-k's is the global top-k."""
    rows = [(i, "g%d" % (i % 2)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, g string")
    plain = set(map(tuple, textstats.sample_stratified(
        df, "g", "doc_id", k=7).collect()))
    sharded = set(map(tuple, textstats.sample_stratified(
        df, "g", "doc_id", k=7, salt_partitions=8).collect()))
    assert plain == sharded
    with pytest.raises(ValueError):
        textstats.sample_stratified(df, "g", "doc_id", k=0)
    with pytest.raises(ValueError):
        textstats.sample_stratified(df, "g", "doc_id", k=2, salt_partitions=0)


def test_sample_mix_threshold_rounds_and_drops_null_ids(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from webtext_extraction_spark.functions.text import portable_hash64_py

    # 0.000498 * 1e6 is 497.99999999999994 in double: truncation would
    # give threshold 497, rounding (the contract) gives 498 — plant an
    # id whose ticket is exactly 497 and assert it survives
    target = next(
        i for i in range(100000)
        if portable_hash64_py(f"mix-v1|{i}") % 1_000_000 == 497
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("source", StringType())]
    )
    df = spark.createDataFrame([(target, "s"), (None, "s")], schema)
    kept = textstats.sample_mix(df, "doc_id", "source", rates={"s": 0.000498}).collect()
    assert [r["doc_id"] for r in kept] == [target]
    # the NULL-id row's ticket is NULL -> dropped regardless of rate
    kept_all = textstats.sample_mix(df, "doc_id", "source", rates={}, default_rate=1.0).collect()
    assert [r["doc_id"] for r in kept_all] == [target]


def test_scrub_pii_hand_computed(spark):
    from webtext_extraction_spark.operators.privacy import scrub_pii
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame(
        [
            (0, "mail me at jane.doe+spam@sub.example.co.uk today"),
            (1, "server 192.168.0.1 and 10.0.255.17 up"),
            (2, "call +81 3-1234-5678 or (555) 010-4477"),
            (3, "clean text with digits 42 and word2vec"),
            (4, None),
            # the email's digit run must NOT be re-counted as a phone
            (5, "reach 555accounts777@example.org now"),
        ],
        schema,
    )
    rows = {r["doc_id"]: r for r in scrub_pii(df, "doc_id", "text").collect()}
    assert rows[0]["scrubbed_text"] == "mail me at <EMAIL> today"
    assert rows[0]["n_email"] == 1 and rows[0]["n_phone"] == 0
    assert rows[1]["scrubbed_text"] == "server <IP> and <IP> up"
    assert rows[1]["n_ipv4"] == 2
    assert rows[2]["n_phone"] == 2
    assert "<PHONE>" in rows[2]["scrubbed_text"]
    assert "5678" not in rows[2]["scrubbed_text"]
    assert rows[3] ["scrubbed_text"] == "clean text with digits 42 and word2vec"
    assert rows[3]["n_email"] == rows[3]["n_ipv4"] == rows[3]["n_phone"] == 0
    assert rows[4]["scrubbed_text"] == ""  # NULL -> empty document
    assert rows[5]["scrubbed_text"] == "reach <EMAIL> now"
    assert rows[5]["n_email"] == 1 and rows[5]["n_phone"] == 0


def test_unigram_logprob_hand_computed_and_artifact_parity(spark):
    import math as _math
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    # corpus: 'a' x4, 'b' x2, 'c' x1, 'd' x1 -> total 8
    df = spark.createDataFrame(
        [(0, "a a b c"), (1, "a a b d"), (2, "")], schema
    )
    out = {r["doc_id"]: r for r in textstats.unigram_logprob(df, "doc_id", "text").collect()}
    assert set(out) == {0, 1}  # zero-token doc drops (documented)
    lp = {w: round(_math.log(c / 8), 6) for w, c in {"a": 4, "b": 2, "c": 1, "d": 1}.items()}

    def mean6(vals):
        # exact decimal mean, rounded half away from zero at 6 dp
        s = sum(Decimal(repr(v)) for v in vals)
        return float((s / len(vals)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))

    exp0 = mean6([lp["a"], lp["a"], lp["b"], lp["c"]])
    assert out[0]["n_tokens"] == 4
    # the exact mean -1.2130075 is a tie; a float divide-then-round
    # gives -1.213007 on Spark, so this pins the integer rule
    assert exp0 == -1.213008
    assert out[0]["logprob_mean"] == exp0
    # docs 0 and 1 swap only equal-frequency tokens (c vs d): equal scores
    assert out[0]["logprob_mean"] == out[1]["logprob_mean"]
    # supplied-artifact path == inline path when freqs learned on df
    freqs = textstats.unigram_frequencies(df, "text")
    via_art = {
        r["doc_id"]: r
        for r in textstats.unigram_logprob(df, "doc_id", "text", freqs=freqs).collect()
    }
    assert {k: (v["n_tokens"], v["logprob_mean"]) for k, v in out.items()} == {
        k: (v["n_tokens"], v["logprob_mean"]) for k, v in via_art.items()
    }
    # OOV backoff: score a doc with a token the freq table never saw
    unseen = spark.createDataFrame([(9, "zzz a")], schema)
    r9 = textstats.unigram_logprob(unseen, "doc_id", "text", freqs=freqs).collect()[0]
    assert r9["logprob_mean"] == mean6([round(_math.log(0.5 / 8), 6), lp["a"]])
    # common-word docs outscore rare-token docs (the filter property)
    assert out[0]["logprob_mean"] > round((lp["c"] + lp["d"]) / 2, 6)


def test_sessionize_hand_computed_microsecond_gaps(spark):
    """Session splits at gap > threshold, sub-second precision (a
    seconds-cast would merge the 1.5 s gap at gap_seconds=1), equal-ts
    rows ordered by the tiebreak."""
    import datetime

    from webtext_extraction_spark.operators.relational import (
        session_rollup,
        sessionize,
    )

    t0 = datetime.datetime(2024, 1, 1)
    us = lambda n: t0 + datetime.timedelta(microseconds=n)
    rows = [
        # user 1: gaps 0.4 s, 1.5 s, 0.9 s -> sessions [0,0,1,1]
        (1, 0, us(0)),
        (1, 1, us(400_000)),
        (1, 2, us(1_900_000)),
        (1, 3, us(2_800_000)),
        # user 2: equal timestamps -> tiebreak order, single session
        (2, 10, us(0)),
        (2, 11, us(0)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp_ntz")
    got = {
        (r["user_id"], r["event_id"]): r["session_idx"]
        for r in sessionize(df, "user_id", "ts", 1, "event_id").collect()
    }
    assert got == {(1, 0): 0, (1, 1): 0, (1, 2): 1, (1, 3): 1, (2, 10): 0, (2, 11): 0}
    roll = {
        (r["user_id"], r["session_idx"]): r
        for r in session_rollup(df, "user_id", "ts", 1, "event_id").collect()
    }
    assert roll[(1, 0)]["n_events"] == 2 and roll[(1, 0)]["duration_us"] == 400_000
    assert roll[(1, 1)]["min_id"] == 2 and roll[(1, 1)]["max_id"] == 3
    assert roll[(2, 0)]["duration_us"] == 0
    with pytest.raises(ValueError):
        sessionize(df, "user_id", "ts", -1, "event_id")


def test_scrub_pii_matches_python_re_and_is_idempotent(spark):
    """Independent python-re oracle over randomized pii-ish rows, plus
    idempotency (the replacement tokens match no pattern, so scrubbing
    a scrubbed corpus is the identity)."""
    import random
    import re

    from webtext_extraction_spark.operators.privacy import PII_RULES, scrub_pii

    rnd = random.Random(23)
    frags = [
        "plain words here",
        "x@y.io",
        "bob.smith+tag@corp.example.com",
        "1.2.3.4",
        "255.255.255.255",
        "+44 20 7946 0958",
        "(03) 9999 123",
        "no-at-sign.example.com",
        "1.2.3",  # not an ip
        "42",     # too short for phone
        "日本語テキスト",
    ]
    rows = [
        (i, " ".join(rnd.choice(frags) for _ in range(rnd.randint(1, 6))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in scrub_pii(df, "doc_id", "text").collect()}

    def py_scrub(t):
        counts = {}
        for name, pat, repl in PII_RULES:
            counts[name] = len(re.findall(pat, t))
            t = re.sub(pat, repl, t)
        return t, counts

    for i, t in rows:
        exp_t, exp_c = py_scrub(t)
        assert got[i]["scrubbed_text"] == exp_t, (i, t)
        for name in exp_c:
            assert got[i][f"n_{name}"] == exp_c[name], (i, name, t)
    # idempotency: scrub(scrub(x)) == scrub(x), with zero new matches
    scrubbed = spark.createDataFrame(
        [(i, got[i]["scrubbed_text"]) for i, _ in rows], ["doc_id", "text"]
    )
    twice = {r["doc_id"]: r for r in scrub_pii(scrubbed, "doc_id", "text").collect()}
    for i, _ in rows:
        assert twice[i]["scrubbed_text"] == got[i]["scrubbed_text"]
        assert twice[i]["n_email"] == twice[i]["n_ipv4"] == twice[i]["n_phone"] == 0


def test_sessionize_matches_python_reference_randomized(spark):
    import datetime
    import random

    from webtext_extraction_spark.operators.relational import sessionize

    rnd = random.Random(31)
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in range(8):
        t = rnd.randint(0, 10**6)
        for _ in range(rnd.randint(1, 40)):
            rows.append((user, eid, t0 + datetime.timedelta(microseconds=t)))
            eid += 1
            t += rnd.randint(0, 3_000_000)  # gaps 0-3 s incl. exact 0
    rnd.shuffle(rows)
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz"
    ).repartition(5)
    got = {
        (r["user_id"], r["event_id"]): r["session_idx"]
        for r in sessionize(df, "user_id", "ts", 1, "event_id").collect()
    }
    # python reference: sort by (user, ts, id), split at gap > 1 s
    expect = {}
    by_user = {}
    for u, e, ts in rows:
        by_user.setdefault(u, []).append((ts, e))
    for u, evs in by_user.items():
        evs.sort()
        sidx, prev = 0, None
        for ts, e in evs:
            if prev is not None and (ts - prev).total_seconds() > 1.0:
                sidx += 1
            expect[(u, e)] = sidx
            prev = ts
    assert got == expect


def test_group_percentiles_matches_numpy_linear(spark):
    import random

    import numpy as np

    from webtext_extraction_spark.operators.textstats import group_percentiles

    rnd = random.Random(5)
    rows = [("g%d" % rnd.randrange(3), float(rnd.randint(0, 1000))) for _ in range(400)]
    rows += [("g9", 42.0)]  # single-element group: every p = the value
    rows += [("g0", None)] * 5  # NULLs excluded, quantile_cont convention
    df = spark.createDataFrame(rows, "g string, v double").repartition(5)
    ps = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
    got = {
        (r["g"], r["p"]): r["pct_value"]
        for r in group_percentiles(df, "g", "v", ps).collect()
    }
    for g in ["g0", "g1", "g2", "g9"]:
        vals = sorted(v for gg, v in rows if gg == g and v is not None)
        for p in ps:
            exp = round(float(np.percentile(vals, p * 100, method="linear")), 6)
            assert abs(got[(g, p)] - exp) < 1e-9, (g, p)
    assert got[("g9", 0.0)] == got[("g9", 1.0)] == 42.0

    with pytest.raises(ValueError):
        group_percentiles(df, "g", "v", [])
    with pytest.raises(ValueError):
        group_percentiles(df, "g", "v", [1.5])


def test_global_percentiles_matches_numpy_linear(spark):
    import random

    import numpy as np

    from webtext_extraction_spark.operators.textstats import global_percentiles

    rnd = random.Random(11)
    vals = [float(rnd.randint(0, 5000)) for _ in range(3000)]
    df = spark.createDataFrame(
        [(v,) for v in vals] + [(None,)] * 7, "v double"
    ).repartition(7)
    ps = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
    got = {
        r["p"]: r["pct_value"]
        for r in global_percentiles(df, "v", ps, num_partitions=6).collect()
    }
    for p in ps:
        exp = round(float(np.percentile(vals, p * 100, method="linear")), 6)
        assert abs(got[p] - exp) < 1e-9, p

    # empty input and single-row corpus
    assert global_percentiles(df.filter("v > 1e9"), "v", ps).collect() == []
    one = spark.createDataFrame([(7.5,)], "v double")
    assert {
        r["pct_value"] for r in global_percentiles(one, "v", [0.0, 0.5, 1.0]).collect()
    } == {7.5}
    with pytest.raises(ValueError):
        global_percentiles(df, "v", [-0.1])


def test_asof_join_hand_computed_edges(spark):
    import datetime

    from webtext_extraction_spark.operators.relational import asof_join

    T = lambda s: datetime.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, "a", T(5)), (2, "a", T(10)), (3, "b", T(3)), (4, "c", T(7))],
        "eid int, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        # key a: equal-(key, ts) pair at t=9 — max tiebreak must win
        [(100, "a", T(5)), (101, "a", T(9)), (103, "a", T(9)), (102, "b", T(4))],
        "rid int, k string, ts timestamp",
    )
    back = {
        r["eid"]: (r["rid"], r["matched_ts_us"])
        for r in asof_join(
            left, right, "k", "ts", "ts", ["rid"], right_tiebreak="rid"
        ).collect()
    }
    assert back[1][0] == 100  # equal-ts match is inclusive
    assert back[2][0] == 103  # max tiebreak wins the t=9 tie
    assert back[3] == (None, None)  # right exists but only later
    assert back[4] == (None, None)  # key absent from right

    fwd = {
        r["eid"]: r["rid"]
        for r in asof_join(
            left,
            right,
            "k",
            "ts",
            "ts",
            ["rid"],
            direction="forward",
            tolerance_us=2_000_000,
            right_tiebreak="rid",
        ).collect()
    }
    assert fwd[1] == 100  # staleness 0 within tolerance
    assert fwd[2] is None  # nothing at-or-after t=10
    assert fwd[3] == 102  # 1 s ahead, within 2 s tolerance
    assert fwd[4] is None

    with pytest.raises(ValueError):
        asof_join(left, right, "k", "ts", "ts", ["rid"], direction="nearest")
    with pytest.raises(ValueError):
        asof_join(left, right, "k", "ts", "ts", ["k"])  # collides with left
    with pytest.raises(ValueError):  # reserved internal name on the left
        asof_join(left.withColumnRenamed("eid", "_k"), right, "k", "ts", "ts", ["rid"])


def test_asof_join_matches_python_reference_randomized(spark):
    import datetime
    import random

    from webtext_extraction_spark.operators.relational import asof_join

    rnd = random.Random(47)
    t0 = datetime.datetime(2024, 1, 1)
    lrows, rrows = [], []
    for i in range(250):
        lrows.append((i, rnd.randrange(6), t0 + datetime.timedelta(seconds=rnd.randint(0, 50))))
    for j in range(120):
        # coarse grid forces equal-(key, ts) right collisions
        rrows.append((j, rnd.randrange(6), t0 + datetime.timedelta(seconds=rnd.randint(0, 50))))
    rnd.shuffle(lrows)
    rnd.shuffle(rrows)
    left = spark.createDataFrame(lrows, "eid long, k long, ts timestamp_ntz").repartition(5)
    right = spark.createDataFrame(rrows, "rid long, k long, ts timestamp_ntz").repartition(4)

    for direction, tol in [("backward", None), ("forward", None), ("backward", 7_000_000)]:
        got = {
            r["eid"]: (r["rid"], r["matched_ts_us"])
            for r in asof_join(
                left, right, "k", "ts", "ts", ["rid"],
                direction=direction, tolerance_us=tol, right_tiebreak="rid",
            ).collect()
        }
        expect = {}
        for eid, k, lts in lrows:
            if direction == "backward":
                cand = [(rts, rid) for rid, rk, rts in rrows if rk == k and rts <= lts]
                best = max(cand) if cand else None  # latest ts, then max rid
            else:
                cand = [(rts, -rid) for rid, rk, rts in rrows if rk == k and rts >= lts]
                best = min(cand) if cand else None  # earliest ts, then max rid
            if best is not None and tol is not None:
                if abs((best[0] - lts).total_seconds()) * 1e6 > tol:
                    best = None
            if best is None:
                expect[eid] = (None, None)
            else:
                rts, rid = best
                # NTZ wall time == UTC epoch (session tz pinned): derive
                # micros from the naive datetime, not .timestamp() (local-tz)
                us = (rts - datetime.datetime(1970, 1, 1)) // datetime.timedelta(
                    microseconds=1
                )
                expect[eid] = (abs(rid), us)
        assert got == expect, direction


def test_asof_join_bounded_parity(spark):
    """asof_join_bounded ≡ asof_join on a randomized corpus with one
    hot key spanning many range partitions, equal-(key, ts) right
    collisions, left rows with no match, a NULL join key, tolerance,
    and both directions — the Spark-side carry stitch must reproduce
    the single-sort matches exactly."""
    import datetime
    import random

    from webtext_extraction_spark.operators.relational import (
        asof_join,
        asof_join_bounded,
    )

    rnd = random.Random(31)
    t0 = datetime.datetime(2024, 1, 1)
    lrows, rrows = [], []
    eid = 0
    # hot key 0: 400 left events; cold keys 1-5: few each; key None: 6
    for _ in range(400):
        lrows.append((eid, 0, t0 + datetime.timedelta(seconds=rnd.randint(0, 3000))))
        eid += 1
    for _ in range(60):
        lrows.append(
            (eid, rnd.randrange(1, 6), t0 + datetime.timedelta(seconds=rnd.randint(0, 50)))
        )
        eid += 1
    for _ in range(6):
        lrows.append((eid, None, t0 + datetime.timedelta(seconds=rnd.randint(0, 50))))
        eid += 1
    for j in range(150):
        k = 0 if j < 100 else rnd.choice([1, 2, 3, 4, 5, None])
        secs = rnd.randint(0, 3000) if k == 0 else rnd.randint(0, 50)
        rrows.append((j, k, t0 + datetime.timedelta(seconds=secs)))
    left = spark.createDataFrame(lrows, "eid long, k long, ts timestamp_ntz").repartition(5)
    right = spark.createDataFrame(rrows, "rid long, k long, ts timestamp_ntz").repartition(4)

    for direction, tol in [("backward", None), ("forward", None), ("backward", 9_000_000)]:
        want = {
            r["eid"]: (r["rid"], r["matched_ts_us"])
            for r in asof_join(
                left, right, "k", "ts", "ts", ["rid"],
                direction=direction, tolerance_us=tol, right_tiebreak="rid",
            ).collect()
        }
        for nparts in (1, 7, 16):
            got = {
                r["eid"]: (r["rid"], r["matched_ts_us"])
                for r in asof_join_bounded(
                    left, right, "k", "ts", "ts", ["rid"],
                    direction=direction, tolerance_us=tol, right_tiebreak="rid",
                    num_partitions=nparts,
                ).collect()
            }
            assert got == want, (direction, tol, nparts)


def test_topk_recall_hand_computed_including_silent_miss(spark):
    exact = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1), (1, 21, 2), (2, 30, 1)],
        ["query_id", "neighbor_id", "rank"],
    )
    approx = spark.createDataFrame(
        # q0: 2/3 hit; q1: rank-4 row must be ignored at k=3; q2 absent
        [(0, 10, 1), (0, 99, 2), (0, 12, 3), (1, 20, 1), (1, 21, 4)],
        ["query_id", "neighbor_id", "rank"],
    )
    got = {
        r["query_id"]: r
        for r in similarity.topk_recall(exact, approx, 3).collect()
    }
    assert got[0]["n_exact"] == 3 and got[0]["n_hit"] == 2
    assert got[0]["recall"] == round(2 / 3, 6)
    assert got[1]["n_hit"] == 1  # the rank-4 approx row does not count
    assert got[2]["n_hit"] == 0 and got[2]["recall"] == 0.0  # silent miss surfaces
    with pytest.raises(ValueError):
        similarity.topk_recall(exact, approx, 0)


def test_chunk_documents_reconstruction_and_edges(spark):
    """Chunks reconstruct the word sequence (first `step` words of each
    chunk + the last chunk whole), the final window is never a
    fully-covered tail, and short/NULL docs behave."""
    import random

    rnd = random.Random(5)
    docs = [(i, " ".join(f"w{i}_{j}" for j in range(rnd.randint(1, 50)))) for i in range(30)]
    docs.append((98, None))
    docs.append((99, "a b"))  # shorter than chunk
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = textstats.chunk_documents(df, "doc_id", "text", chunk_tokens=8, overlap=3)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"]) for r in out.collect())
    )
    by_doc = {}
    for d, ci, txt, n in rows:
        assert n == len(txt.split())
        by_doc.setdefault(d, []).append((ci, txt.split()))
    assert 98 not in by_doc  # NULL -> zero words -> drops
    assert by_doc[99] == [(0, ["a", "b"])]
    step = 8 - 3
    for d, chunks in by_doc.items():
        words = docs[d][1].split() if d < 30 else ["a", "b"]
        assert [c[0] for c in chunks] == list(range(len(chunks)))
        rebuilt = []
        for ci, ws in chunks[:-1]:
            assert len(ws) == 8  # only the last chunk may be short
            rebuilt.extend(ws[:step])
        rebuilt.extend(chunks[-1][1])
        assert rebuilt == words, d
        # no fully-covered tail: the last chunk starts before n-overlap
        assert len(chunks) == 1 or (len(chunks) - 1) * step < len(words) - 3
    with pytest.raises(ValueError):
        textstats.chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)
    with pytest.raises(ValueError):
        textstats.chunk_documents(df, "doc_id", "text", chunk_tokens=0)


def test_canonical_url_cases_and_idempotency(spark):
    from webtext_extraction_spark.functions.text import canonical_url

    cases = [
        ("HTTPS://WWW.Ex.COM/Path?b=2&utm_source=x&a=1#f", "https://www.ex.com/Path?a=1&b=2"),
        ("http://a.jp/p?gclid=1", "http://a.jp/p"),
        ("http://a.jp/p", "http://a.jp/p"),
        ("https://x.org/p?z=1&z=0&ref=tw", "https://x.org/p?z=0&z=1"),
        ("https://h.com/?utm_campaign=1&fbclid=2", "https://h.com/"),
        ("https://h.com/CaseSensitive/Path", "https://h.com/CaseSensitive/Path"),
        ("https://h.com/p?refresh=1", "https://h.com/p?refresh=1"),  # prefix != exact
        ("not a url at all", "not a url at all"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], ["i", "url"])
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url(F.col("url")).alias("c")).collect()
    }
    for i, (_, expect) in enumerate(cases):
        assert got[i] == expect, (i, got[i])
    # idempotency: canonical(canonical(u)) == canonical(u)
    df2 = spark.createDataFrame([(i, c) for i, c in got.items()], ["i", "url"])
    got2 = {
        r["i"]: r["c"]
        for r in df2.select("i", canonical_url(F.col("url")).alias("c")).collect()
    }
    assert got2 == got


def test_duplicate_spans_hand_computed(spark):
    """Lee-et-al-family exact-substring spans: within-doc repeats
    count (unlike boilerplate doc frequencies), overlapping covered
    windows merge to ONE maximal span, and sub-n duplicates are
    invisible (the granularity knob)."""
    df = spark.createDataFrame(
        [
            # doc 0 repeats a 5-word phrase internally -> both copies
            # are spans even though no other doc has it
            (0, "p q r s t zz p q r s t"),
            # docs 1/2 share a 6-word run -> ONE merged maximal span
            # each (two overlapping 5-gram windows)
            (1, "aa one two three four five six bb"),
            (2, "cc one two three four five six dd"),
            # docs 3/4 share only 3 words: invisible at n=5
            (3, "ee ff short shared run gg hh"),
            (4, "ii jj short shared run kk ll"),
        ],
        ["doc_id", "text"],
    )
    rows = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["span_words"])
        for r in dedup.duplicate_spans(df, "doc_id", "text", n=5, min_occurrences=2).collect()
    )
    assert rows == [
        (0, 0, 4, 5),
        (0, 6, 10, 5),
        (1, 1, 6, 6),
        (2, 1, 6, 6),
    ]
    with pytest.raises(ValueError):
        dedup.duplicate_spans(df, "doc_id", "text", n=0)
    with pytest.raises(ValueError):
        dedup.duplicate_spans(df, "doc_id", "text", min_occurrences=1)


def test_canonical_url_matches_python_reference_randomized(spark):
    """Independent python-re reimplementation of the SAME three rules
    over randomized messy URLs — catches Spark-expression drift
    (regex semantics, split/sort behavior) across a wider input space
    than the hand cases."""
    import random
    import re

    from webtext_extraction_spark.functions.text import (
        TRACKING_PARAM_EXACT,
        canonical_url,
    )

    def py_canon(u):
        nf = re.sub(r"#.*$", "", u)
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", nf)
        pre = m.group(1) if m else ""
        lw = pre.lower() + nf[len(pre):]
        path = re.sub(r"\?.*$", "", lw)
        q = re.sub(r"^[^?]*\?", "", lw) if "?" in lw else ""
        params = [
            p
            for p in q.split("&")
            if p != ""
            and not p.startswith("utm_")
            and p.split("=", 1)[0] not in TRACKING_PARAM_EXACT
        ]
        sq = "&".join(sorted(params))
        return path + "?" + sq if sq else path

    rnd = random.Random(41)
    schemes = ["http", "HTTPS", "ftp"]
    hosts = ["Ex.COM", "www.site.jp", "a-b.Org", "X9.net"]
    paths = ["", "/", "/Path/Page", "/a/b.html", "/日本語/p"]
    params = ["a=1", "B=2", "utm_source=x", "utm_y", "gclid=9", "z", "ref=tw",
              "refx=1", "a=1", "c=%20d", ""]
    frags = ["", "#f", "#a?b=1", "#"]
    urls = []
    for i in range(120):
        u = (
            rnd.choice(schemes) + "://" + rnd.choice(hosts) + rnd.choice(paths)
        )
        ps = [rnd.choice(params) for _ in range(rnd.randint(0, 4))]
        if ps:
            u += "?" + "&".join(ps)
        u += rnd.choice(frags)
        urls.append((i, u))
    urls += [(900, "no scheme at all"), (901, "http://"), (902, "?only=query")]
    df = spark.createDataFrame(urls, ["i", "url"])
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url(F.col("url")).alias("c")).collect()
    }
    for i, u in urls:
        assert got[i] == py_canon(u), (i, u, got[i], py_canon(u))


def test_ivf_tune_n_probe_monotone_and_reaches_full_recall(spark):
    import random

    rnd = random.Random(3)
    # clustered vectors: 4 tight clusters of 10 in 8-dim space
    rows = []
    vid = 0
    for c in range(4):
        center = [10.0 * (1 if (c >> b) & 1 else -1) for b in range(3)] + [0.0] * 5
        for _ in range(10):
            rows.append((vid, [x + rnd.uniform(-0.5, 0.5) for x in center]))
            vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.ivf_tune_n_probe(
        emb, query_ids=[0, 10, 20], k=3, target_recall=1.0, n_cells=4
    )
    curve = dict(out["curve"])
    # recall is monotone non-decreasing in n_probe and hits 1.0 by
    # the time every cell is probed
    probes = sorted(curve)
    assert all(curve[probes[i]] <= curve[probes[i + 1]] for i in range(len(probes) - 1))
    assert out["recall"] == 1.0
    assert out["n_probe"] <= 4
    with pytest.raises(ValueError):
        similarity.ivf_tune_n_probe(emb, query_ids=[], k=3)
    # ADVICE r04: max_n_probe < 1 must raise, not return None
    with pytest.raises(ValueError, match="max_n_probe"):
        similarity.ivf_tune_n_probe(emb, query_ids=[0], k=3, max_n_probe=0)
    # max_n_probe beyond n_cells clamps to full probe, still a dict
    out2 = similarity.ivf_tune_n_probe(
        emb, query_ids=[0], k=3, target_recall=1.0, n_cells=4, max_n_probe=99
    )
    assert out2["n_probe"] <= 4


def test_exact_duplicates_normalize_ws(spark):
    """ADVICE r04: with normalize_ws=True, whitespace-only docs with
    differing bytes (and docs differing only in whitespace runs) gain
    a dedup owner; default stays byte-exact."""
    df = spark.createDataFrame(
        [(0, " "), (1, "  "), (2, "a  b"), (3, "a b"), (4, "unique")],
        ["doc_id", "text"],
    )
    assert dedup.exact_duplicates(df, "doc_id", "text").count() == 0
    got = {
        (r["n_dups"], r["keeper_id"])
        for r in dedup.exact_duplicates(
            df, "doc_id", "text", normalize_ws=True
        ).collect()
    }
    assert got == {(2, 0), (2, 2)}


def test_sessionize_bounded_parity_with_hot_key(spark):
    """sessionize_bounded ≡ sessionize on a corpus with one hot key
    spanning many range partitions, timestamp ties, and multi-key
    partitions — the stitch (carried offsets + boundary gap flags)
    must reproduce the single-sort session ids exactly."""
    import datetime
    import random

    from webtext_extraction_spark.operators.relational import (
        sessionize,
        sessionize_bounded,
    )

    rnd = random.Random(42)
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # hot key: 600 events, gaps of 10s usually, 2000s jump every ~37
    ts = t0
    for i in range(600):
        ts += datetime.timedelta(seconds=2000 if i % 37 == 36 else 10)
        rows.append(("hot", eid, ts))
        eid += 1
    # 30 cold keys with few events each, including exact-tie timestamps
    for k in range(30):
        ts = t0 + datetime.timedelta(seconds=rnd.randint(0, 5000))
        for i in range(rnd.randint(1, 6)):
            ts += datetime.timedelta(seconds=rnd.choice([0, 5, 700]))
            rows.append((f"k{k:02d}", eid, ts))
            eid += 1
    df = spark.createDataFrame(rows, ["key", "event_id", "ts"])
    want = {
        (r["key"], r["event_id"]): r["session_idx"]
        for r in sessionize(df, "key", "ts", 600, "event_id").collect()
    }
    for nparts in (1, 4, 16):
        got = {
            (r["key"], r["event_id"]): r["session_idx"]
            for r in sessionize_bounded(
                df, "key", "ts", 600, "event_id", num_partitions=nparts
            ).collect()
        }
        assert got == want, nparts
    # column-collision guard
    with pytest.raises(ValueError, match="_pid"):
        sessionize_bounded(
            df.withColumn("_pid", F.lit(1)), "key", "ts", 600, "event_id"
        )
    # plan shape: the heavy work (range shuffle + per-partition window)
    # ran ONCE behind the eager localCheckpoint — the returned frame is
    # a projection over the materialized RDD plus at most a broadcast
    # stitch join; never a per-key global window, BNLJ, or cartesian
    plan = (
        sessionize_bounded(df, "key", "ts", 600, "event_id", num_partitions=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Scan ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sessionize_string_keys_transcript_shape(spark):
    """conv_id-style STRING keys (the transcripts use-case) — same
    segmentation semantics as numeric keys."""
    import datetime

    from webtext_extraction_spark.operators.relational import sessionize

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("convA", 0, t0),
        ("convA", 1, t0 + datetime.timedelta(seconds=5)),
        ("convA", 2, t0 + datetime.timedelta(seconds=500)),
        ("convB", 3, t0),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx long, ts timestamp_ntz")
    got = {
        (r["conv_id"], r["turn_idx"]): r["session_idx"]
        for r in sessionize(df, "conv_id", "ts", 60, "turn_idx").collect()
    }
    assert got == {("convA", 0): 0, ("convA", 1): 0, ("convA", 2): 1, ("convB", 3): 0}


def test_pack_sequences_order_col_distinct_values_shuffled(spark):
    """An order_col different from the id (distinct values) defines the
    packing order regardless of input partitioning; the id rides as
    tiebreak only."""
    import random

    rnd = random.Random(13)
    rows = [(i, "w " * (i % 5 + 1), 1000 - i) for i in range(60)]
    rnd.shuffle(rows)
    df = spark.createDataFrame(rows, ["doc_id", "text", "pos"]).repartition(6)
    got = {
        r["doc_id"]: r["bin_id"]
        for r in textstats.pack_sequences(
            df, "doc_id", "text", budget=12, order_col="pos", num_partitions=4
        ).collect()
    }
    # reference: order by pos ascending == doc_id DESCENDING
    toks = {i: i % 5 + 1 for i in range(60)}
    acc, expect = 0, {}
    for i in sorted(toks, reverse=True):
        expect[i] = acc // 12
        acc += toks[i]
    assert got == expect


def test_remove_duplicate_spans_hand_and_python_oracle(spark):
    """Keep-first exact-substring removal: the globally-first (id, p)
    occurrence of each duplicated n-gram survives, all others strip —
    hand cases plus a randomized python replay of the exact greedy
    rule."""
    import random

    df = spark.createDataFrame(
        [
            (0, "one two three four five tail0"),
            (1, "head1 one two three four five"),   # loses the shared run
            (2, "a b c d e x a b c d e"),           # within-doc: 2nd copy strips
            (3, "totally unique words here indeed"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.remove_duplicate_spans(df, "doc_id", "text", n=5).collect()
    }
    assert rows[0]["cleaned_text"] == "one two three four five tail0"
    assert rows[1]["cleaned_text"] == "head1"
    assert rows[2]["cleaned_text"] == "a b c d e x"
    assert rows[3]["n_removed_words"] == 0

    def py_remove(docs, n, min_occ):
        grams = {}
        for i, t in docs:
            ws = t.split()
            for p in range(max(len(ws) - n + 1, 0)):
                grams.setdefault(" ".join(ws[p : p + n]), []).append((i, p))
        covered = {}
        for g, occ in grams.items():
            if len(occ) < min_occ:
                continue
            keep = min(occ)
            for i, p in occ:
                if (i, p) != keep:
                    covered.setdefault(i, set()).update(range(p, p + n))
        out = {}
        for i, t in docs:
            ws = t.split()
            kept = [w for k, w in enumerate(ws) if k not in covered.get(i, set())]
            out[i] = (" ".join(kept), len(ws), len(ws) - len(kept))
        return out

    rnd = random.Random(17)
    vocab = ["t%d" % i for i in range(12)]
    docs = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(4, 25))))
        for i in range(40)
    ]
    expect = py_remove(docs, 4, 2)
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    for method in ("set", "join"):
        got = {
            r["doc_id"]: (r["cleaned_text"], r["n_words"], r["n_removed_words"])
            for r in dedup.remove_duplicate_spans(
                sdf, "doc_id", "text", n=4, method=method
            ).collect()
        }
        assert got == expect, method


def test_hashed_bow_embedding_python_replay(spark):
    """Exact python replay of the feature-hashing rule (bucket =
    md5-60-bits % dim, sign = hex digit 16 parity, integer sums, L2
    normalize), plus drop semantics for token-less docs and identical
    vectors for identical texts."""
    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the mat"),
        (2, "completely different words here entirely"),
        (3, None),
        (4, "   "),
        (5, "single"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["embedding"]
        for r in similarity.hashed_bow_embedding(df, "text", "doc_id", dim=8).collect()
    }

    def py_embed(text, dim=8):
        v = [0] * dim
        for w in text.split():
            d = hashlib.md5(w.encode()).hexdigest()
            v[int(d[:15], 16) % dim] += 1 - 2 * (int(d[15], 16) % 2)
        ss = sum(x * x for x in v)
        if ss == 0:
            return [0.0] * dim
        return [x / math.sqrt(ss) for x in v]

    assert set(got) == {0, 1, 2, 5}  # NULL and whitespace-only drop
    for i, t in [(0, rows[0][1]), (2, rows[2][1]), (5, "single")]:
        exp = py_embed(t)
        assert all(abs(a - b) < 1e-12 for a, b in zip(got[i], exp)), i
    assert got[0] == got[1]
    assert abs(sum(x * x for x in got[0]) - 1.0) < 1e-12  # unit norm
    with pytest.raises(ValueError, match="dim"):
        similarity.hashed_bow_embedding(df, "text", "doc_id", dim=0)


def test_hll_cardinality_python_replay_and_accuracy(spark):
    """Exact python replay of the portable HLL rule (md5 bucket, bin()
    leading zeros, integer harmonic sum, shared-literal division,
    linear-counting branch), plus accuracy within the 1.04/sqrt(m)
    regime and NULL exclusion."""

    def py_hll(values, p=8):
        m = 1 << p
        r = 60 - p + 1
        alpha = 0.7213 / (1 + 1.079 / m)
        regs = [0] * m
        for v in values:
            h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
            w = h >> p
            rho = r - len(bin(w)[2:]) if w else r
            b = h % m
            regs[b] = max(regs[b], rho)
        s = sum(1 << (r - M) for M in regs)
        zeros = regs.count(0)
        e = alpha * m * m * float(1 << r) / float(s)
        if e <= 2.5 * m and zeros > 0:
            e = float(m) * math.log(float(m) / zeros)
        return round(e, 6)

    rows = [(i % 2, f"value-{i % 400}") for i in range(3000)] + [(0, None)]
    df = spark.createDataFrame(rows, ["src", "v"])
    got = {
        r["src"]: r["hll_estimate"]
        for r in textstats.hll_cardinality(df, "v", ["src"], p=8).collect()
    }
    for s in (0, 1):
        vals = {f"value-{i % 400}" for i in range(3000) if i % 2 == s}
        assert got[s] == pytest.approx(py_hll(vals), abs=1e-9)  # bit replay
        assert abs(got[s] - len(vals)) / len(vals) < 0.15  # ~2σ at p=8
    # linear-counting branch on a tiny group
    tiny = spark.createDataFrame([(0, "a"), (0, "b"), (0, "a")], ["src", "v"])
    t = textstats.hll_cardinality(tiny, "v", ["src"]).collect()[0]["hll_estimate"]
    assert t == pytest.approx(py_hll({"a", "b"}), abs=1e-9)
    with pytest.raises(ValueError, match="p must"):
        textstats.hll_cardinality(df, "v", ["src"], p=2)
    # ungrouped: one global row
    glob = textstats.hll_cardinality(df, "v").collect()
    assert len(glob) == 1


def test_cms_sketch_replay_merge_and_one_sided_error(spark):
    """Count-Min: cells and point estimates replay the md5 rule
    exactly; estimates never undercount; merged half-sketches equal
    the whole-corpus sketch cell-for-cell."""

    def py_cells(values, depth=4, width=128):
        cells = {}
        for v in values:
            if v is None:
                continue
            for i in range(depth):
                h = int(hashlib.md5(f"{v}#{i}".encode()).hexdigest()[:15], 16)
                cells[(i, h % width)] = cells.get((i, h % width), 0) + 1
        return cells

    vals = ["hot"] * 60 + ["warm"] * 20 + [f"cold-{i}" for i in range(100)] + [None]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    sk = textstats.cms_sketch(df, "v", depth=4, width=128)
    got_cells = {(r["row"], r["bucket"]): r["cnt"] for r in sk.collect()}
    assert got_cells == py_cells(vals)

    terms = spark.createDataFrame(
        [("hot",), ("warm",), ("cold-5",), ("never-seen",)], ["t"]
    )
    est = {
        r["term"]: r["cms_estimate"]
        for r in textstats.cms_query(sk, terms, "t", depth=4, width=128).collect()
    }
    true = {"hot": 60, "warm": 20, "cold-5": 1, "never-seen": 0}
    for t, c in true.items():
        assert est[t] >= c  # one-sided: never undercounts
        assert est[t] <= c + 180 * math.e / 128 + 1  # eps*N slack

    halves = [vals[:90], vals[90:]]
    merged = textstats.cms_merge(
        *[
            textstats.cms_sketch(
                spark.createDataFrame([(v,) for v in h], ["v"]), "v", 4, 128
            )
            for h in halves
        ]
    )
    assert {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()} == got_cells
    with pytest.raises(ValueError, match="depth"):
        textstats.cms_sketch(df, "v", depth=0)
    with pytest.raises(ValueError, match="sketch"):
        textstats.cms_merge()


def test_tfidf_top_terms_hand_computed(spark):
    """Smoothed-idf TF-IDF against a hand-derived expectation: a term
    in every doc scores idf=1 (pure tf); a rarer term outranks it."""
    df = spark.createDataFrame(
        [
            (0, "apple apple banana shared"),
            (1, "banana shared shared"),
            (2, "cherry shared"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["rank"]): r
        for r in textstats.tfidf_top_terms(df, "doc_id", "text", k=2).collect()
    }
    idf = lambda dft: math.log((1 + 3) / (1 + dft)) + 1.0
    # doc 0: apple tf=2 df=1 -> 2*idf(1); banana tf=1 df=2; shared idf=1
    assert got[(0, 1)]["term"] == "apple"
    assert got[(0, 1)]["score"] == pytest.approx(round(2 * idf(1), 6))
    assert got[(0, 2)]["term"] == "banana"
    # doc 1: shared tf=2 beats banana tf=1 only if 2*1.0 > idf(2)
    top1 = got[(1, 1)]
    assert top1["term"] == ("shared" if 2 * idf(3) > idf(2) else "banana")
    # doc 2: cherry (df=1) outranks shared (idf exactly 1.0)
    assert got[(2, 1)]["term"] == "cherry"
    assert got[(2, 2)]["score"] == pytest.approx(round(idf(3), 6))
    with pytest.raises(ValueError, match="k must"):
        textstats.tfidf_top_terms(df, "doc_id", "text", k=0)


def test_inverted_index_postings_numeric_order(spark):
    df = spark.createDataFrame(
        [(2, "zz common"), (10, "common zz"), (1, "common only here")],
        ["doc_id", "text"],
    )
    got = {r["term"]: r for r in textstats.inverted_index(df, "doc_id", "text").collect()}
    assert got["common"]["df_t"] == 3
    # numeric order, not string order ("10" would sort before "2")
    assert got["common"]["postings"] == "1,2,10"
    assert got["zz"]["postings"] == "2,10"
    # min_df bounds the tail
    filtered = {
        r["term"]
        for r in textstats.inverted_index(df, "doc_id", "text", min_df=3).collect()
    }
    assert filtered == {"common"}
    with pytest.raises(ValueError, match="min_df"):
        textstats.inverted_index(df, "doc_id", "text", min_df=0)


def test_corpus_diff_all_statuses(spark):
    old = spark.createDataFrame(
        [(0, "same"), (1, "will change"), (2, "will vanish"), (3, None)],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(0, "same"), (1, "changed!"), (4, "brand new"), (3, "")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["status"] for r in dedup.corpus_diff(old, new, "doc_id", "text").collect()}
    # NULL old text vs '' new text: both hash as empty -> unchanged
    assert got == {0: "unchanged", 1: "changed", 2: "removed", 3: "unchanged", 4: "added"}


def test_minhash_incremental_properties(spark, docs_df):
    """Incremental dedup invariants: (1) with an EMPTY prior it equals
    the full pairwise operator; (2) with the first half persisted as
    prior signatures and the second half as new, the result is exactly
    the full pairs MINUS prior×prior pairs; (3) signature artifact
    roundtrips through parquet."""
    import tempfile

    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            docs_df, "doc_id", "text", num_hashes=8, bands=4, jaccard_threshold=0.3
        ).collect()
    }
    empty_prior = dedup.minhash_signatures(
        docs_df.filter(F.lit(False)), "doc_id", "text", num_hashes=8
    )
    got_all_new = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs_incremental(
            docs_df, empty_prior, "doc_id", "text",
            num_hashes=8, bands=4, jaccard_threshold=0.3,
        ).collect()
    }
    assert got_all_new == full

    ids = sorted(r["doc_id"] for r in docs_df.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    prior_docs = docs_df.filter(F.col("doc_id") < cut)
    new_docs = docs_df.filter(F.col("doc_id") >= cut)
    with tempfile.TemporaryDirectory() as tmp:
        dedup.minhash_signatures(
            prior_docs, "doc_id", "text", num_hashes=8
        ).write.parquet(tmp + "/sigs")
        prior_sigs = spark.read.parquet(tmp + "/sigs")
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.minhash_lsh_pairs_incremental(
                new_docs, prior_sigs, "doc_id", "text",
                num_hashes=8, bands=4, jaccard_threshold=0.3,
            ).collect()
        }
    expect = {
        pair: j for pair, j in full.items() if not (pair[0] < cut and pair[1] < cut)
    }
    assert got == expect


def test_ngram_jaccard_bucketized_equi_join(spark):
    """The r5 bucketized range join: pairs straddling a bucket
    boundary (id 9→10 with window 10 buckets them 0 vs 1) must still
    pair via the adjacent-bucket emission; beyond-window pairs are
    excluded; and the plan contains NO BroadcastNestedLoopJoin or
    CartesianProduct — the range predicate rides an equi-join key."""
    rows = [(i, "abcdefgh") for i in (0, 9, 10, 19, 21, 40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5, window=10)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # identical texts -> jaccard 1.0; exactly the pairs within 10
    assert got == {(0, 9), (0, 10), (9, 10), (9, 19), (10, 19), (19, 21)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_remove_duplicate_spans_set_join_parity_string_ids(spark):
    """set ≡ join on STRING ids (the packed gh:p:id occurrence key's
    unambiguous-tail property — ids containing ':' must not confuse
    keeper election), including NULL text and a doc shorter than n."""
    df = spark.createDataFrame(
        [
            ("u:1", "one two three four five tail0"),
            ("u:2", "head1 one two three four five"),
            ("u:3", None),
            ("u:4", "short text"),
            ("a", "one two three four five again here"),
        ],
        ["doc_id", "text"],
    )
    out = {}
    for method in ("set", "join"):
        out[method] = sorted(
            dedup.remove_duplicate_spans(
                df, "doc_id", "text", n=5, method=method
            ).collect()
        )
    assert out["set"] == out["join"]
    # "a" < "u:1" lexicographically, so the keeper of the shared run
    # lives in doc "a" and both u-docs lose it
    rows = {r["doc_id"]: r["cleaned_text"] for r in out["set"]}
    assert rows["a"] == "one two three four five again here"
    assert rows["u:1"] == "tail0"
    assert rows["u:2"] == "head1"
    assert rows["u:3"] == ""
    assert rows["u:4"] == "short text"


def test_remove_duplicate_spans_set_path_plan(spark):
    """The set apply path is ONE text scan / ZERO Exchange: after the
    eager keeper election, the returned plan is a pure projection —
    no Exchange, no Join, no generate/aggregate nodes."""
    df = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta doc"), F.col("id") % 2).alias(
            "text"
        ),
    )
    plan = (
        dedup.remove_duplicate_spans(df, "doc_id", "text", n=3, method="set")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_token_entropy_hand_computed(spark):
    """H = log2(n) - (sum c*log2(c))/n against a pure-Python replay of
    the exact rounding rule; zero-token / NULL docs drop."""
    import hashlib as _hl
    import math as _math
    from collections import Counter as _Counter

    rows = [
        (1, "a a a a"),           # one token repeated: H = 0 exactly
        (2, "the cat sat on the mat"),
        (3, "x"),                 # n = 1: log2(1) = 0
        (4, None),
        (5, ""),
        (6, "b c b c b d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def _ph(s):
        return int(_hl.md5(s.encode()).hexdigest()[:15], 16)

    def _ref(text):
        ws = [w for w in (text or "").split() if w]
        if not ws:
            return None
        c = _Counter(_ph(w) for w in ws)
        n = len(ws)
        s = 0.0
        for _, t in sorted((th, round(k * _math.log2(k), 6)) for th, k in c.items()):
            s += t
        return (n, len(c), round(_math.log2(n) - s / n, 6))

    got = {
        r["doc_id"]: (r["n_tokens"], r["distinct_tokens"], r["entropy_bits"])
        for r in textstats.token_entropy(df, "doc_id", "text").collect()
    }
    for did, text in rows:
        assert got.get(did) == _ref(text), (did, got.get(did), _ref(text))
    assert got[1][2] == 0.0  # repeated token: exactly zero
    assert got[2][2] > got[6][2] > got[1][2]  # diversity orders as expected


def test_bigram_logprob_hand_computed_and_backoff_ladder(spark):
    """Inline and supplied-model paths vs a pure-Python replay; the
    held-out model path exercises all three backoff branches."""
    import hashlib as _hl
    import math as _math
    from collections import Counter as _Counter

    rows = [
        (1, "a a a a"),
        (2, "the cat sat on the mat"),
        (3, "x"),
        (4, None),
        (6, "b c b c b d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def _ph(s):
        return int(_hl.md5(s.encode()).hexdigest()[:15], 16)

    def _bigrams(text):
        ws = [w for w in (text or "").split() if w]
        return [
            (_ph(ws[i]), _ph(ws[i] + " " + ws[i + 1])) for i in range(len(ws) - 1)
        ]

    def _ref(text, model, c1, total):
        bs = _bigrams(text)
        if not bs:
            return None
        lps = []
        for h1, h12 in bs:
            if (h1, h12) in model:
                lp = round(_math.log(model[(h1, h12)] / c1[h1]), 6)
            elif h1 in c1:
                lp = round(_math.log(0.5 / c1[h1]), 6)
            else:
                lp = round(_math.log(0.5 / total), 6)
            lps.append((h1, h12, lp))
        lps.sort()
        s = 0.0
        for *_, lp in lps:
            s += lp
        return (len(bs), round(s / len(bs), 6))

    # inline-learn path
    model = _Counter()
    for _, text in rows:
        for pr in _bigrams(text):
            model[pr] += 1
    c1 = _Counter()
    for (h1, _), c in model.items():
        c1[h1] += c
    total = sum(model.values())
    got = {
        r["doc_id"]: (r["n_bigrams"], r["logprob_mean"])
        for r in textstats.bigram_logprob(df, "doc_id", "text").collect()
    }
    for did, text in rows:
        assert got.get(did) == _ref(text, model, c1, total), did
    assert 3 not in got and 4 not in got  # <2-token docs drop

    # held-out model (docs 1-3 only) scoring docs 2 and 6: doc 6's
    # tokens are entirely unseen (prefix-OOV branch), doc 2 is seen
    mdf = textstats.bigram_frequencies(df.filter("doc_id <= 3"), "text")
    m2 = _Counter()
    for _, text in rows[:3]:
        for pr in _bigrams(text):
            m2[pr] += 1
    c1b = _Counter()
    for (h1, _), c in m2.items():
        c1b[h1] += c
    t2 = sum(m2.values())
    got2 = {
        r["doc_id"]: (r["n_bigrams"], r["logprob_mean"])
        for r in textstats.bigram_logprob(
            df.filter("doc_id in (2, 6)"), "doc_id", "text", model=mdf
        ).collect()
    }
    for did in (2, 6):
        text = dict(rows)[did]
        assert got2[did] == _ref(text, m2, c1b, t2), did
    # OOV text scores strictly worse than in-model text
    assert got2[6][1] < got2[2][1]
    # empty model -> empty result (documented)
    empty_model = textstats.bigram_frequencies(
        df.filter("doc_id = 4"), "text"
    )
    assert (
        textstats.bigram_logprob(df, "doc_id", "text", model=empty_model).count()
        == 0
    )


def test_shuffle_corpus_permutation_deterministic(spark):
    """Positions are a permutation of 1..N, equal to the rank by
    (portable_hash64(salt|id), id), identical across partition counts
    and runs; a different salt draws a different permutation."""
    import hashlib as _hl

    def _ph(s):
        return int(_hl.md5(s.encode()).hexdigest()[:15], 16)

    big = spark.range(0, 500).selectExpr("id AS doc_id")
    out = textstats.shuffle_corpus(big, "doc_id", num_partitions=7).collect()
    assert sorted(r["shuffle_pos"] for r in out) == list(range(1, 501))
    order = sorted(range(500), key=lambda i: (_ph("shuffle-v1|" + str(i)), i))
    exp = {did: k + 1 for k, did in enumerate(order)}
    for r in out:
        assert exp[r["doc_id"]] == r["shuffle_pos"]
    again = {
        r["doc_id"]: r["shuffle_pos"]
        for r in textstats.shuffle_corpus(big, "doc_id", num_partitions=3).collect()
    }
    assert all(again[r["doc_id"]] == r["shuffle_pos"] for r in out)
    other = {
        r["doc_id"]: r["shuffle_pos"]
        for r in textstats.shuffle_corpus(big, "doc_id", salt="v2").collect()
    }
    assert sorted(other.values()) == list(range(1, 501))
    assert any(other[d] != exp[d] for d in other)  # a fresh permutation
    # empty input -> empty result with the contract schema
    empty = textstats.shuffle_corpus(
        big.filter("doc_id < 0"), "doc_id"
    )
    assert empty.count() == 0 and empty.columns == ["doc_id", "shuffle_pos"]


def test_bm25_topk_hand_computed(spark):
    """BM25 against a full python replay of the documented arithmetic
    (Lucene idf, k1=1.2 b=0.75, per-term round-6 then hash-sorted
    sum): exact scores, ranks, and row set — including set semantics
    for duplicate query tokens, a no-hit query yielding nothing, and
    zero-token docs excluded from N/avgdl."""
    import hashlib as _hl

    corpus = {
        1: "the cat sat on the mat",
        2: "the dog sat on the log",
        3: "cat dog cat dog",
        4: "quantum flux capacitor quantum flux",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in corpus.items()] + [(5, "")],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        # "cat cat mat": duplicate token counts once
        [(100, "cat cat mat"), (101, "quantum"), (102, "zzz")],
        "query_id long, query_text string",
    )
    got = sorted(
        tuple(r)
        for r in textstats.bm25_topk(docs, "doc_id", "text", qs, k=3).collect()
    )

    toks = {i: s.split() for i, s in corpus.items()}
    n, avgdl = 4, sum(len(v) for v in toks.values()) / 4.0
    dfreq: dict = {}
    for ws in toks.values():
        for t in set(ws):
            dfreq[t] = dfreq.get(t, 0) + 1

    def _ph(s):
        return int(_hl.md5(s.encode()).hexdigest()[:15], 16)

    def expect(qid, qtext):
        out = []
        for i, ws in toks.items():
            parts = []
            for t in set(qtext.split()):
                if t not in dfreq or t not in ws:
                    continue
                tfv, dl = ws.count(t), len(ws)
                idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
                tfc = tfv * (1.2 + 1) / (
                    tfv + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)
                )
                parts.append((_ph(t), round(idf * tfc, 6)))
            if parts:
                s = round(sum(p for _, p in sorted(parts)), 6)
                out.append((i, len(parts), s))
        out.sort(key=lambda x: (-x[2], x[0]))
        return [(qid, i, c, s, r + 1) for r, (i, c, s) in enumerate(out[:3])]

    assert got == sorted(expect(100, "cat cat mat") + expect(101, "quantum"))
    with pytest.raises(ValueError, match="k must"):
        textstats.bm25_topk(docs, "doc_id", "text", qs, k=0)
    with pytest.raises(ValueError, match="k1"):
        textstats.bm25_topk(docs, "doc_id", "text", qs, b=1.5)


def test_pmi_bigrams_hand_computed(spark):
    """PMI collocations vs a python replay: prefix/suffix totals from
    the pair table, double-product ratio, round-6, min_count floor,
    (pmi desc, w1, w2) total order."""
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "cat dog cat dog"),
        (4, "quantum flux capacitor quantum flux"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        tuple(r)
        for r in textstats.pmi_bigrams(df, "text", min_count=2, k=10).collect()
    ]

    pairs: dict = {}
    for _, t in rows:
        ws = t.split()
        for a, b in zip(ws, ws[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
    c1: dict = {}
    c2: dict = {}
    for (a, b), c in pairs.items():
        c1[a] = c1.get(a, 0) + c
        c2[b] = c2.get(b, 0) + c
    total = float(sum(pairs.values()))
    exp = [
        (a, b, c, c1[a], c2[b], round(math.log(c * total / (c1[a] * c2[b])), 6))
        for (a, b), c in pairs.items()
        if c >= 2
    ]
    exp.sort(key=lambda r: (-r[5], r[0], r[1]))
    assert got == exp[:10]
    # hapax floor: min_count=1 admits ('the','cat') etc.
    loose = textstats.pmi_bigrams(df, "text", min_count=1, k=100).count()
    assert loose == len(pairs)
    with pytest.raises(ValueError, match="min_count"):
        textstats.pmi_bigrams(df, "text", min_count=0)
    with pytest.raises(ValueError, match="k must"):
        textstats.pmi_bigrams(df, "text", k=0)


def test_quality_gate_hand_computed(spark):
    """quality_gate vs a python replay of every rule: each fail bit
    exercised in isolation, combined masks, exact int/int ratios,
    NULL/empty docs keeping a row with the word-count verdict."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),   # clean: passes
        (2, "hi"),                                    # too few words
        (3, " ".join("w%d" % i for i in range(30))),  # too many (max 20)
        (4, "a b c d e f"),                           # mean word len 1
        (5, "xx " * 8 + "xx"),                        # dup frac 8/9
        (6, "supercalifragilistic word other words here x2"),  # long token
        (7, "日本語 テキスト 抽出 処理 変換 です"),        # alpha floor
        (8, None),
        (9, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(
        min_words=3, max_words=20, min_mean_word_len=1.5,
        max_mean_word_len=12.0, min_stop_ratio=0.0, max_word_len=15,
        max_dup_word_frac=0.5, min_alpha_ratio=0.5,
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in textstats.quality_gate(df, "doc_id", "text", **kw).collect()
    }
    assert len(got) == 9

    stops = set(textstats.EN_STOPWORDS)
    for doc_id, text in rows:
        ws = (text or "").split()
        n, nz = len(ws), max(len(ws), 1)
        exp = {
            "n_words": n,
            "mean_word_len": round(sum(len(w) for w in ws) / nz, 6),
            "stop_ratio": round(
                sum(1 for w in ws if w.lower() in stops) / nz, 6
            ),
            "max_word_len": max((len(w) for w in ws), default=0),
            "dup_word_frac": round((n - len(set(ws))) / nz, 6),
            "alpha_ratio": round(
                sum(1 for c in (text or "") if c.isascii()
                    and (c.isalpha() or c == " "))
                / max(len(text or ""), 1), 6
            ),
        }
        mask = 0
        if exp["n_words"] < kw["min_words"]:
            mask |= textstats.GATE_TOO_FEW_WORDS
        if exp["n_words"] > kw["max_words"]:
            mask |= textstats.GATE_TOO_MANY_WORDS
        if not (
            kw["min_mean_word_len"] <= exp["mean_word_len"]
            <= kw["max_mean_word_len"]
        ):
            mask |= textstats.GATE_MEAN_WORD_LEN
        if exp["stop_ratio"] < kw["min_stop_ratio"]:
            mask |= textstats.GATE_STOPWORDS
        if exp["max_word_len"] > kw["max_word_len"]:
            mask |= textstats.GATE_MAX_WORD_LEN
        if exp["dup_word_frac"] > kw["max_dup_word_frac"]:
            mask |= textstats.GATE_DUP_WORDS
        if exp["alpha_ratio"] < kw["min_alpha_ratio"]:
            mask |= textstats.GATE_ALPHA
        exp["fail_mask"] = mask
        exp["passes"] = mask == 0
        g = dict(got[doc_id])
        g.pop("doc_id")
        assert g == exp, f"doc {doc_id}: {g} != {exp}"

    # bit sanity: the intended dedicated bit trips on each planted doc
    assert got[1]["passes"]
    assert got[2]["fail_mask"] & textstats.GATE_TOO_FEW_WORDS
    assert got[3]["fail_mask"] & textstats.GATE_TOO_MANY_WORDS
    assert got[4]["fail_mask"] & textstats.GATE_MEAN_WORD_LEN
    assert got[5]["fail_mask"] & textstats.GATE_DUP_WORDS
    assert got[6]["fail_mask"] & textstats.GATE_MAX_WORD_LEN
    assert got[7]["fail_mask"] & textstats.GATE_ALPHA
    assert got[8]["fail_mask"] & textstats.GATE_TOO_FEW_WORDS
    assert got[9]["fail_mask"] & textstats.GATE_TOO_FEW_WORDS
    with pytest.raises(ValueError, match="min_words"):
        textstats.quality_gate(df, "doc_id", "text", min_words=5, max_words=2)
    with pytest.raises(ValueError, match="max_word_len"):
        textstats.quality_gate(df, "doc_id", "text", max_word_len=0)


def test_ccnet_buckets_hand_computed(spark):
    """ccnet_buckets vs a python replay: exact unigram logprobs
    (exact decimal means, rounded half up), numpy-linear percentile
    thresholds, >= tie rule on rounded values; zero-token docs drop;
    tertile counts roughly balanced; empty corpus yields an empty
    frame."""
    import numpy as np

    rows = [(i, " ".join(
        ["common"] * (i % 7 + 1) + ["rare%d" % i] * (i % 3)
    )) for i in range(1, 31)] + [(99, ""), (100, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in textstats.ccnet_buckets(df, "doc_id", "text").collect()
    }
    assert 99 not in got and 100 not in got and len(got) == 30

    # python replay
    toks = {i: (t or "").split() for i, t in rows}
    freqs: dict = {}
    for ws in toks.values():
        for w in ws:
            freqs[w] = freqs.get(w, 0) + 1
    total = float(sum(freqs.values()))
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        # Spark's Round(double, 6): BigDecimal of the shortest decimal
        # repr, then HALF_UP — python round() is banker's and diverges
        # at .5e-6 boundaries
        return float(Decimal(repr(x)).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP))

    lps = {}
    for i, ws in toks.items():
        if not ws:
            continue
        # exact decimal mean of the rounded logprobs, then HALF_UP
        # (away from zero) at 6 dp
        s = sum(Decimal(repr(r6(math.log(freqs[w] / total)))) for w in ws)
        lps[i] = float((s / len(ws)).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP))
    vals = np.array(sorted(lps.values()))
    t_lo = r6(float(np.percentile(vals, 100 / 3, method="linear")))
    t_hi = r6(float(np.percentile(vals, 200 / 3, method="linear")))
    for i, lp in lps.items():
        assert got[i]["logprob_mean"] == lp, (i, got[i]["logprob_mean"], lp)
        exp = "head" if lp >= t_hi else ("middle" if lp >= t_lo else "tail")
        assert got[i]["bucket"] == exp, (i, lp, t_lo, t_hi, got[i]["bucket"])
    counts = {b: sum(1 for g in got.values() if g["bucket"] == b)
              for b in ("head", "middle", "tail")}
    assert all(c > 0 for c in counts.values()), counts

    empty = textstats.ccnet_buckets(
        df.filter("doc_id < 0"), "doc_id", "text"
    )
    assert empty.count() == 0 and empty.columns == [
        "doc_id", "n_tokens", "logprob_mean", "bucket"
    ]
    with pytest.raises(ValueError, match="cutoffs"):
        textstats.ccnet_buckets(df, "doc_id", "text", cutoffs=(0.7, 0.3))


def test_bpe_merge_candidates_hand_computed(spark):
    """BPE pair mining vs a python replay: per-word-occurrence
    weighting, in-word repeat counting ('aaa' -> (a,a) x2), min_count
    floor, (count desc, lhs, rhs) total order, unicode chars."""
    rows = [
        (1, "low low low lower"),
        (2, "newest newest wide"),
        (3, "aaa 日本語"),
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        tuple(r)
        for r in textstats.bpe_merge_candidates(
            df, "text", min_count=1, k=100
        ).collect()
    ]

    counts: dict = {}
    for _, t in rows:
        for w in (t or "").split():
            for a, b in zip(w, w[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
    exp = sorted(
        ((a, b, c) for (a, b), c in counts.items()),
        key=lambda x: (-x[2], x[0], x[1]),
    )
    assert got == exp
    assert got[0] == ("l", "o", 4)  # 'lo' in low x3 + lower
    assert ("日", "本", 1) in got
    floored = textstats.bpe_merge_candidates(df, "text", min_count=3, k=100)
    assert {tuple(r) for r in floored.collect()} == {
        (a, b, c) for a, b, c in exp if c >= 3
    }
    top1 = textstats.bpe_merge_candidates(df, "text", min_count=1, k=1)
    assert [tuple(r) for r in top1.collect()] == [("l", "o", 4)]
    with pytest.raises(ValueError, match="min_count"):
        textstats.bpe_merge_candidates(df, "text", min_count=0)
    with pytest.raises(ValueError, match="k must"):
        textstats.bpe_merge_candidates(df, "text", k=0)


def test_mixing_weights_hand_computed(spark):
    """mixing_weights vs a python replay: alpha temperature, sorted
    fold normalizer, floor(w*budget+0.5) quotas; alpha=0 uniform,
    alpha=1 proportional; NULL group forms its own group."""
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        return float(Decimal(repr(x)).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP))

    rows = (
        [("web", i) for i in range(16)]
        + [("books", i) for i in range(4)]
        + [("code", i) for i in range(9)]
        + [(None, i) for i in range(1)]
    )
    df = spark.createDataFrame(rows, "source string, doc_id long")

    for alpha in (0.5, 0.0, 1.0):
        got = {
            r["source"]: (r["n_rows"], r["weight"], r["expected_rows"])
            for r in textstats.mixing_weights(
                df, "source", alpha=alpha, budget=1000
            ).collect()
        }
        ns = {"web": 16, "books": 4, "code": 9, None: 1}
        svals = {g: r6(n ** alpha) for g, n in ns.items()}
        tot = 0.0
        for _, s in sorted(svals.items(), key=lambda kv: (kv[0] or "", kv[1])):
            tot += s
        for g, n in ns.items():
            w = r6(svals[g] / tot)
            er = math.floor(w * 1000 + 0.5)
            assert got[g] == (n, w, er), (alpha, g, got[g], (n, w, er))

    # no budget -> no expected_rows column
    nb = textstats.mixing_weights(df, "source")
    assert nb.columns == ["source", "n_rows", "weight"]
    # alpha=0.5 upsamples the small source vs proportional
    w05 = {r["source"]: r["weight"]
           for r in textstats.mixing_weights(df, "source", 0.5).collect()}
    w10 = {r["source"]: r["weight"]
           for r in textstats.mixing_weights(df, "source", 1.0).collect()}
    assert w05["books"] > w10["books"] and w05["web"] < w10["web"]
    with pytest.raises(ValueError, match="alpha"):
        textstats.mixing_weights(df, "source", alpha=-0.1)
    with pytest.raises(ValueError, match="budget"):
        textstats.mixing_weights(df, "source", budget=0)


def test_sample_quota_hand_computed(spark):
    """sample_quota vs a python ticket replay: exact per-group counts,
    quota-0 and missing groups drop, prefix-consistency with both a
    bigger quota and sample_stratified at the same salt."""
    rows = [("web", i) for i in range(20)] + [("books", 100 + i) for i in range(6)] \
        + [("code", 200 + i) for i in range(3)] + [("empty", 300)]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    quotas = spark.createDataFrame(
        [("web", 5), ("books", 10), ("code", 0)],
        "source string, expected_rows long",
    )  # 'empty' absent; code quota 0; books quota > |group|
    got = sorted(
        tuple(r)
        for r in textstats.sample_quota(
            df, "source", "doc_id", quotas
        ).collect()
    )

    def ticket(i):
        return portable_hash64_py(f"strat-v1|{i}")

    exp = []
    for g, q in (("web", 5), ("books", 10)):
        ids = [i for s, i in rows if s == g]
        ranked = sorted(ids, key=lambda i: (ticket(i), i))[:q]
        exp += [(g, i, r + 1) for r, i in enumerate(ranked)]
    assert got == sorted(exp)
    assert sum(1 for g, *_ in got if g == "web") == 5
    assert sum(1 for g, *_ in got if g == "books") == 6  # min(10, 6)
    assert not any(g in ("code", "empty") for g, *_ in got)

    # prefix property: quota 3 ⊂ quota 5 for the same salt
    q3 = spark.createDataFrame([("web", 3)], "source string, expected_rows long")
    small = {r["doc_id"] for r in
             textstats.sample_quota(df, "source", "doc_id", q3).collect()}
    big = {i for g, i, _ in got if g == "web"}
    assert small < big
    # consistency with sample_stratified at the same salt
    strat = {
        (r["source"], r["doc_id"], r["rk"])
        for r in textstats.sample_stratified(df, "source", "doc_id", 3).collect()
        if r["source"] == "web"
    }
    assert strat == {(g, i, r) for g, i, r in got if g == "web" and r <= 3}
    with pytest.raises(ValueError, match="quotas needs"):
        textstats.sample_quota(df, "source", "doc_id",
                               quotas.select("source"))


def test_r5_validation_edges(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="exactly"):
        textstats.ccnet_buckets(df, "doc_id", "text", cutoffs=(0.1, 0.5, 0.9))
    with pytest.raises(ValueError, match="mean_word_len"):
        textstats.quality_gate(
            df, "doc_id", "text", min_mean_word_len=5.0, max_mean_word_len=3.0
        )


def test_containment_pairs_hand_computed(spark):
    """containment_pairs vs a python all-pairs replay on a corpus
    where rare-token blocking has complete recall (every pair at
    threshold shares a rare token): subset docs found at 1.0 even
    when Jaccard is tiny; counts exact; id_a < id_b."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta"),                      # ⊂ 1: containment 1.0, jaccard 0.2
        (3, "gamma delta epsilon"),             # ⊂ 1
        (4, "completely different words here"),
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # = 1
        (6, ""),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r.asDict()
        for r in dedup.containment_pairs(
            df, "doc_id", "text", threshold=0.9, rare_k=2
        ).collect()
    }
    # full containments found despite low jaccard
    assert set(got) == {(1, 2), (1, 3), (1, 5), (2, 5), (3, 5)}
    for (a, b), r in got.items():
        sa = set(dict(rows)[a].split())
        sb = set(dict(rows)[b].split())
        assert r["n_common"] == len(sa & sb)
        assert r["n_a"] == len(sa) and r["n_b"] == len(sb)
        assert r["containment"] == round(
            len(sa & sb) / min(len(sa), len(sb)), 6
        )
    assert got[(1, 2)]["containment"] == 1.0
    assert got[(1, 5)]["containment"] == 1.0

    # zero-token docs never pair; threshold filters
    loose = dedup.containment_pairs(df, "doc_id", "text", threshold=0.01)
    ids = {i for r in loose.collect() for i in (r["id_a"], r["id_b"])}
    assert 6 not in ids and 7 not in ids
    with pytest.raises(ValueError, match="threshold"):
        dedup.containment_pairs(df, "doc_id", "text", threshold=0.0)
    with pytest.raises(ValueError, match="rare_k"):
        dedup.containment_pairs(df, "doc_id", "text", rare_k=0)


def test_group_overlap_hand_computed(spark):
    """group_overlap vs a python set replay: per-group distinct-gram
    sets, unordered pairs, containment-style overlap fraction; the
    split-leakage composition (split_corpus -> group_overlap) detects
    planted cross-split duplicates."""
    from webtext_extraction_spark.operators import contamination

    rows = [
        (1, "a", "one two three four five"),
        (2, "a", "six seven eight nine"),
        (3, "b", "one two three four"),      # shares grams with doc 1
        (4, "b", "totally different words"),
        (5, "c", "unrelated text entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")
    got = {
        (r["group_a"], r["group_b"]): r.asDict()
        for r in contamination.group_overlap(df, "grp", "text", n=2).collect()
    }

    def gset(g):
        s = set()
        for _, gg, t in rows:
            if gg != g:
                continue
            ws = t.split()
            s |= {" ".join(ws[i:i + 2]) for i in range(len(ws) - 1)}
        return s

    sets = {g: gset(g) for g in ("a", "b", "c")}
    exp = {}
    for ga, gb in (("a", "b"), ("a", "c"), ("b", "c")):
        sh = len(sets[ga] & sets[gb])
        if sh:
            exp[(ga, gb)] = {
                "group_a": ga, "group_b": gb, "shared_grams": sh,
                "n_a": len(sets[ga]), "n_b": len(sets[gb]),
                "overlap": round(sh / min(len(sets[ga]), len(sets[gb])), 6),
            }
    assert got == exp
    assert got[("a", "b")]["shared_grams"] == 3  # one-two two-three three-four

    # split-leakage composition: duplicate texts planted across ids
    # land in different splits and surface as train/val overlap
    dups = spark.createDataFrame(
        [(i, "the same leaked sentence appears everywhere in this corpus %d" % (i % 4))
         for i in range(40)],
        "doc_id long, text string",
    )
    split = textstats.split_corpus(dups, "doc_id", {"train": 0.5, "val": 0.5})
    leak = contamination.group_overlap(split, "split", "text", n=4).collect()
    assert len(leak) == 1 and leak[0]["shared_grams"] > 0
    with pytest.raises(ValueError, match="n must"):
        contamination.group_overlap(df, "grp", "text", n=0)


def test_winnow_fingerprints_hand_computed(spark):
    """Winnowing vs a python replay of the rightmost-min rule, plus
    the winnowing GUARANTEE: docs sharing a run of >= w+k-1 words
    share a fingerprint; short docs emit nothing."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron"),
        (2, "pre1 pre2 delta epsilon zeta eta theta iota kappa lam post"),
        (3, "one two three"),            # < w+k-1 words -> nothing
        (4, ""),
        (5, None),
    ]
    k, w = 3, 4
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        i: sorted((r["pos"], r["fp"]) for r in rs)
        for i, rs in __import__("itertools").groupby(
            sorted(
                textstats.winnow_fingerprints(
                    df, "doc_id", "text", k=k, w=w
                ).collect(),
                key=lambda r: r["doc_id"],
            ),
            key=lambda r: r["doc_id"],
        )
        for i, rs in [(i, list(rs))]
    }

    def replay(text):
        ws = (text or "").split()
        hs = [
            portable_hash64_py(" ".join(ws[i:i + k]))
            for i in range(len(ws) - k + 1)
        ]
        out = set()
        for s in range(len(hs) - w + 1):
            win = hs[s:s + w]
            m = min(win)
            pos = s + max(i for i, h in enumerate(win) if h == m)
            out.add((pos, hs[pos]))
        return sorted(out)

    for i, t in rows:
        exp = replay(t)
        assert got.get(i, []) == exp, (i, got.get(i), exp)
    assert 3 not in got and 4 not in got and 5 not in got

    # guarantee: docs 1 and 2 share "delta ... lam" (8 words >= w+k-1=6)
    fp1 = {fp for _, fp in got[1]}
    fp2 = {fp for _, fp in got[2]}
    assert fp1 & fp2, "winnowing guarantee violated"
    # density: ~2/(w+1) of the gram stream, loose sanity bound
    assert len(got[1]) <= len(rows[0][1].split()) - k + 1
    with pytest.raises(ValueError, match="k >= 1"):
        textstats.winnow_fingerprints(df, "doc_id", "text", k=0)


def test_winnow_overlap_pairs_hand_computed(spark):
    """Pair report vs a python replay of winnow -> distinct ->
    df-guard -> pair counts; planted shared run pairs; max_df drops
    the corpus-common fingerprint."""
    shared = "delta epsilon zeta eta theta iota kappa lam"
    rows = [
        (1, "alpha beta gamma " + shared + " mu nu"),
        (2, "pre1 pre2 pre3 " + shared + " post1"),
        (3, "one two three four five six seven eight nine ten"),
        (4, ""),
    ]
    k, w = 3, 4
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def winnow(text):
        ws = (text or "").split()
        hs = [portable_hash64_py(" ".join(ws[i:i + k]))
              for i in range(len(ws) - k + 1)]
        out = set()
        for s in range(len(hs) - w + 1):
            win = hs[s:s + w]
            m = min(win)
            pos = s + max(i for i, h in enumerate(win) if h == m)
            out.add(hs[pos])
        return out

    sets = {i: winnow(t) for i, t in rows}
    for min_shared in (1, 2):
        got = {
            (r["id_a"], r["id_b"]): r["shared_fps"]
            for r in textstats.winnow_overlap_pairs(
                df, "doc_id", "text", k=k, w=w, min_shared=min_shared
            ).collect()
        }
        exp = {}
        for a in (1, 2, 3):
            for b in range(a + 1, 5):
                c = len(sets[a] & sets.get(b, set()))
                if c >= min_shared:
                    exp[(a, b)] = c
        assert got == exp, (min_shared, got, exp)
    assert (1, 2) in got  # the planted shared run pairs at min_shared=2

    # max_df guard: a fp in all three docs is dropped before pairing
    df3 = spark.createDataFrame(
        [(i, "common run here always forever and ever "
             + ("tail%d " % i) * 6)
         for i in range(3)],
        "doc_id long, text string",
    )
    unguarded = textstats.winnow_overlap_pairs(
        df3, "doc_id", "text", k=k, w=w, min_shared=1
    ).count()
    guarded = textstats.winnow_overlap_pairs(
        df3, "doc_id", "text", k=k, w=w, min_shared=1, max_df=2
    ).count()
    assert unguarded == 3 and guarded == 0
    with pytest.raises(ValueError, match="min_shared"):
        textstats.winnow_overlap_pairs(df, "doc_id", "text", min_shared=0)
    with pytest.raises(ValueError, match="max_df"):
        textstats.winnow_overlap_pairs(df, "doc_id", "text", max_df=1)


def test_sessionize_bounded_null_keys_parity(spark):
    """NULL is a legitimate session key (the window formulation groups
    NULLs like any other key): a NULL-key history long enough to span
    range partitions must stitch exactly like a named key (ADVICE r05:
    sorted() over mixed None/str boundary keys raised, and the
    isin()/== stitch predicates silently skipped NULL-key rows)."""
    import datetime

    from webtext_extraction_spark.operators.relational import (
        sessionize,
        sessionize_bounded,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # NULL key: 200 events with periodic gap jumps -> many sessions
    ts = t0
    for i in range(200):
        ts += datetime.timedelta(seconds=2000 if i % 23 == 22 else 10)
        rows.append((None, eid, ts))
        eid += 1
    # a few named keys around it, with ties
    for k in range(8):
        ts = t0 + datetime.timedelta(seconds=100 * k)
        for i in range(5):
            ts += datetime.timedelta(seconds=[0, 5, 700, 10, 900][i])
            rows.append((f"k{k}", eid, ts))
            eid += 1
    df = spark.createDataFrame(rows, "key string, event_id long, ts timestamp")
    want = {
        (r["key"], r["event_id"]): r["session_idx"]
        for r in sessionize(df, "key", "ts", 600, "event_id").collect()
    }
    for nparts in (1, 4, 16):
        got = {
            (r["key"], r["event_id"]): r["session_idx"]
            for r in sessionize_bounded(
                df, "key", "ts", 600, "event_id", num_partitions=nparts
            ).collect()
        }
        assert got == want, nparts
