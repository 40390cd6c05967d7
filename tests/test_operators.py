"""Semantic tests for the custom operators (as-of join, dedup family,
similarity) on constructed inputs with hand-checkable answers — the
fixture-scale differential harness (tools/diffcheck.py) covers them
against DuckDB; these pin the semantics on adversarial small cases."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from dbtransfer_spark.operators.asof import asof_join
from dbtransfer_spark.operators.dedup import (
    exact_dedup,
    minhash_jaccard_estimate,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
)
from dbtransfer_spark.operators.similarity import brute_force_topk, cosine


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 25, "b"), (1, 5, "c"), (2, 50, "d")],
        "k int, t int, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (2, 60, 300.0)],
        "k int, t int, v double",
    )
    out = asof_join(left, right, on="k", left_time="t", right_time="t", right_values=["v"])
    got = {r["tag"]: r["asof_v"] for r in out.collect()}
    # t=10 matches the equal-timestamp right row (ties match, like DuckDB ASOF)
    assert got == {"a": 100.0, "b": 200.0, "c": None, "d": None}


def test_exact_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "x"), (9, "y")], "id int, key string"
    )
    out = exact_dedup(df, ["key"], "id").collect()
    assert {(r["id"], r["key"]) for r in out} == {(1, "x"), (9, "y")}


def test_minhash_estimates_jaccard(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words in this sentence nothing shared at all here now"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id int, text string"
    )
    sigs = minhash_signatures(df, "doc_id", "text", num_hashes=64)
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a int, id_b int")
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_jaccard_estimate(sigs, pairs, "doc_id").collect()
    }
    assert est[(1, 2)] > 0.5  # one shingle substitution → high similarity
    assert est[(1, 3)] < 0.2


def test_minhash_lsh_recall(spark):
    """A near-duplicate pair must surface as an LSH candidate."""
    base = " ".join(f"w{i}" for i in range(60))
    near = base.replace("w59", "zz")
    rows = [(1, base), (2, near)] + [
        (i, " ".join(f"u{i}_{j}" for j in range(60))) for i in range(3, 40)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    sigs = minhash_signatures(df, "doc_id", "text")
    cand = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(sigs, "doc_id").collect()}
    assert (1, 2) in cand


def test_minhash_short_and_empty_docs(spark):
    """Docs shorter than the shingle length must not crash the signature
    pass (sequence(0,-1) yields [0,-1], whose index 0/-1 breaks element_at
    and slice) — they get the empty-shingle sentinel signature instead."""
    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "now three words"),
         (5, "a healthy document with plenty of words to shingle")],
        "doc_id int, text string",
    )
    sigs = {r["doc_id"]: r["minhash"] for r in minhash_signatures(df, "doc_id", "text").collect()}
    assert len(sigs) == 5
    # < 3 words → no shingles → all-PRIME sentinel signature
    assert len(set(sigs[1])) == 1 and sigs[1] == sigs[2] == sigs[3]
    assert len(set(sigs[4])) > 1
    # the ngram-jaccard shingle path shares the guard: same inputs, no crash
    from pyspark.sql import functions as F

    words = F.split("text", " ", -1)
    n = F.size(words)
    idx = F.when(n >= 3, F.sequence(F.lit(0), n - 3)).otherwise(F.array().cast("array<int>"))
    shingles = df.select(
        F.explode(
            F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3))))
        ).alias("sh")
    ).collect()
    assert all(len(r["sh"].split(" ")) == 3 for r in shingles)


def test_simhash_near_for_similar(spark):
    # the 60-bit md5-derived signatures every query uses
    base = " ".join(f"w{i}" for i in range(50))
    near = base.replace("w49", "zz")
    far = " ".join(f"v{i}" for i in range(50))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "doc_id int, text string")
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    ham_near = bin(sigs[1] ^ sigs[2]).count("1")
    ham_far = bin(sigs[1] ^ sigs[3]).count("1")
    assert ham_near < ham_far
    assert ham_near <= 8


def test_brute_force_topk_exact(spark):
    qs = spark.createDataFrame([(0, [1.0, 0.0])], "q_id int, q_vec array<float>")
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.1]),   # most similar
            (2, [0.5, 0.5]),
            (3, [0.0, 1.0]),   # orthogonal
            (4, [-1.0, 0.0]),  # opposite
        ],
        "c_id int, c_vec array<float>",
    )
    out = brute_force_topk(qs, corpus, k=2).orderBy("rank").collect()
    assert [r["c_id"] for r in out] == [1, 2]
    assert out[0]["cos_sim"] > 0.99


def test_cosine_expression(spark):
    df = spark.createDataFrame([([3.0, 4.0], [3.0, 4.0])], "a array<float>, b array<float>")
    val = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
    assert val == pytest.approx(1.0, abs=1e-9)


def test_salted_join_equals_plain_join(spark):
    from dbtransfer_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i % 3, f"r{i}") for i in range(300)], "k int, payload string"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (5, "x")], "k int, dim string")
    salted = salted_join(big, small, on="k", salt_factor=4)
    plain = big.join(small, "k")
    assert salted.count() == plain.count() == 200
    assert salted.exceptAll(plain).count() == 0


def test_ngram_doc_freq_cap(spark):
    """max_doc_freq strips ubiquitous shingles before the inverted-index
    self-join: pairs that only co-occur on hot grams disappear, a
    generous cap reproduces the exact result, and surviving scores never
    overestimate the uncapped Jaccard."""
    from dbtransfer_spark.operators.dedup import ngram_jaccard_pairs

    hot = "the quick brown"  # present in every doc → df = 4
    docs = spark.createDataFrame(
        [
            (1, f"{hot} fox jumps over lazy dogs today"),
            (2, f"{hot} fox jumps over lazy dogs today"),   # true dup of 1
            (3, f"{hot} cat sleeps on warm mats quietly"),
            (4, f"{hot} bird sings in green trees loudly"),
        ],
        "doc_id long, text string",
    )
    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.0).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.0, max_doc_freq=3
        ).collect()
    }
    # All pairs co-occur somewhere uncapped (shared hot prefix)…
    assert (3, 4) in uncapped
    # …but (3,4) overlaps ONLY on hot shingles → gone under the cap.
    assert (3, 4) not in capped
    # The true duplicate pair survives, scored conservatively.
    assert (1, 2) in capped
    assert capped[(1, 2)] <= uncapped[(1, 2)] == 1.0
    for pair, score in capped.items():
        assert score <= uncapped[pair]
    # Cap above every doc-frequency == exact result.
    loose = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.0, max_doc_freq=100
        ).collect()
    }
    assert loose == uncapped


def test_connected_components_chain_and_convergence(spark):
    """A 4-vertex chain (needs >1 propagation round), a separate pair, and
    determinism: every vertex labels with its component's min id."""
    from dbtransfer_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    got = {
        r["id"]: r["label"]
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_chunk_udtf_matches_builtin_plan(spark):
    """§2.8 UDTF machinery: a Python arrow UDTF re-implementation of the
    sliding-window chunker must reproduce the builtin sequence/slice plan
    row-for-row. The builtin form is the production path (narrow codegen
    expansion, no Python); the UDTF exists to prove the table-function
    surface works for shapes built-ins genuinely can't express."""
    import math

    from pyspark.sql.functions import udtf

    from dbtransfer_spark.operators.text import (
        _CHUNK_SIZE,
        _CHUNK_STRIDE,
        chunk_documents,
    )
    from tests.conftest import SF_SMOKE

    @udtf(returnType="doc_id bigint, chunk_idx int, chunk_text string, n_tokens int")
    class ChunkUDTF:
        def eval(self, doc_id, text):
            toks = text.split(" ")
            n = len(toks)
            if n == 0:
                return
            n_chunks = max(math.ceil((n - _CHUNK_SIZE) / _CHUNK_STRIDE), 0) + 1
            for i in range(n_chunks):
                piece = toks[i * _CHUNK_STRIDE : i * _CHUNK_STRIDE + _CHUNK_SIZE]
                yield doc_id, i, " ".join(piece), len(piece)

    spark.udtf.register("chunk_udtf", ChunkUDTF)
    from dbtransfer_spark.catalog import load_table

    load_table(spark, SF_SMOKE, "documents").createOrReplaceTempView("documents")
    want = sorted(
        tuple(r) for r in chunk_documents(spark, SF_SMOKE).collect()
    )
    got = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT c.* FROM documents d, LATERAL chunk_udtf(d.doc_id, d.text) c"
        ).collect()
    )
    assert got == want


def test_grouped_agg_pandas_udaf_matches_builtin(spark):
    """§2.8 UDAF machinery: a vectorized grouped-agg pandas UDF (Arrow
    batches, one call per group) computing a 10%-trimmed mean must match
    the same statistic computed with builtin percentile + filtered avg.
    Builtin-first remains the rule; this proves the UDAF surface for
    aggregations built-ins can't express."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from dbtransfer_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    from pyspark.sql.functions import PandasUDFType

    # explicit functionType: `from __future__ import annotations` makes
    # type hints strings, which defeats signature inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean(v):
        lo, hi = np.percentile(v, [10, 90])
        kept = v[(v >= lo) & (v <= hi)]
        return float(kept.mean())

    li = load_table(spark, SF_SMOKE, "lineitem")
    got = {
        r["l_returnflag"]: r["tm"]
        for r in li.groupBy("l_returnflag")
        .agg(trimmed_mean("l_extendedprice").alias("tm"))
        .collect()
    }
    cuts = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.1)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("hi"),
    )
    want = {
        r["l_returnflag"]: r["tm"]
        for r in li.join(cuts, "l_returnflag")
        .filter(F.col("l_extendedprice").between(F.col("lo"), F.col("hi")))
        .groupBy("l_returnflag")
        .agg(F.avg("l_extendedprice").alias("tm"))
        .collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k] == pytest.approx(want[k], rel=1e-9)


def test_correlation_matrix_bounds_and_selfconsistency(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["correlation_matrix"](spark, SF_SMOKE).collect()
    assert len(rows) == 6
    for r in rows:
        assert -1.0 <= r["corr"] <= 1.0, r
    # fixture measures are drawn independently → all |corr| small
    assert all(abs(r["corr"]) < 0.2 for r in rows)


def test_benford_ppm_sums_to_million(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["benford_first_digit"](spark, SF_SMOKE).collect()
    assert {r["digit"] for r in rows} <= set(range(1, 10))
    total_ppm = sum(r["observed_ppm"] for r in rows)
    # floor division loses at most 1 ppm per digit
    assert 1000000 - 9 <= total_ppm <= 1000000
    assert sum(r["benford_ppm"] for r in rows) == 999999 + 1  # Benford table


def test_gram_novelty_first_doc_is_fully_novel(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["gram_novelty_rate"](spark, SF_SMOKE).collect()
    first = rows[0]
    assert first["n_seen_before"] == 0
    assert first["novelty_ppm"] == 1000000
    for r in rows:
        assert 0 <= r["novelty_ppm"] <= 1000000
        assert r["n_seen_before"] <= r["n_grams"]


def test_source_gini_in_unit_interval(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["source_length_gini"](spark, SF_SMOKE).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0.0 <= r["gini"] < 1.0


def test_transition_matrix_probabilities_normalize(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["event_transition_matrix"](spark, SF_SMOKE).collect()
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r["prev_type"], []).append(r)
    for prev, rs in by_prev.items():
        total = sum(r["p_ppm"] for r in rs)
        assert 1000000 - len(rs) <= total <= 1000000, (prev, total)


def test_oov_rate_vocab_covers_common_words(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["oov_rate"](spark, SF_SMOKE).collect()
    assert all(0 <= r["oov_ppm"] <= 1000000 for r in rows)
    assert all(r["n_oov"] <= r["n_tokens"] for r in rows)


def test_embedding_dim_stats_shape(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["embedding_dim_stats"](spark, SF_SMOKE).collect()
    assert len(rows) == 64
    for r in rows:
        assert r["min_micro"] <= r["mean_micro"] <= r["max_micro"]


def test_knn_label_accuracy_invariants(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["knn_label_accuracy"](spark, SF_SMOKE).collect()
    assert sum(r["n_probes"] for r in rows) == 50  # every probe classified once
    for r in rows:
        assert 0 <= r["n_correct"] <= r["n_probes"]
        assert 0 <= r["accuracy_ppm"] <= 1_000_000

def test_mad_outliers_bounded_and_nonnegative(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["mad_outlier_brand_prices"](spark, SF_SMOKE).collect()
    assert len(rows) == 25  # one row per brand
    for r in rows:
        assert r["mad_cents"] >= 0
        assert 0 <= r["n_outliers"] <= r["n_parts"]
        # the median itself deviates 0 ≤ 3·MAD, so never all-outliers
        if r["n_parts"] > 1:
            assert r["n_outliers"] < r["n_parts"], r


def test_negative_sampling_no_self_pairs_and_bounded(spark):
    from dbtransfer_spark.registry import QUERIES

    df = QUERIES["negative_sampling_ring"](spark, SF_SMOKE)
    rows = df.collect()
    assert all(r["doc_id"] != r["neg_doc_id"] for r in rows)
    from collections import Counter

    per_doc = Counter(r["doc_id"] for r in rows)
    assert max(per_doc.values()) <= 3
    # determinism: a second evaluation yields the identical pair set
    again = {(r["doc_id"], r["j"], r["neg_doc_id"]) for r in df.collect()}
    assert {(r["doc_id"], r["j"], r["neg_doc_id"]) for r in rows} == again


def test_duplicate_block_ratio_bounds(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["duplicate_block_ratio"](spark, SF_SMOKE).collect()
    for r in rows:
        assert 0 <= r["n_dup_blocks"] <= r["n_blocks"]
        assert 0 <= r["dup_ppm"] <= 1_000_000
        if r["n_blocks"] == 0:
            assert r["keep"]


def test_shard_assignment_covers_all_docs(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["shard_assignment"](spark, SF_SMOKE).collect()
    assert all(0 <= r["shard"] < 32 for r in rows)
    total_ppm = sum(r["docs_ppm"] for r in rows)
    assert 1_000_000 - 32 <= total_ppm <= 1_000_000  # floor loses <1 ppm/shard
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchone()[0]
    assert sum(r["n_docs"] for r in rows) == n_docs


def test_unigram_freq_score_band_consistency(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["unigram_freq_score"](spark, SF_SMOKE).collect()
    for r in rows:
        assert 0 <= r["mean_token_ppm"] <= 1_000_000
        band = (
            "common" if r["mean_token_ppm"] >= 20000
            else "mid" if r["mean_token_ppm"] >= 5000
            else "rare"
        )
        assert r["rarity_band"] == band


def test_vocab_coverage_monotone_in_cutoff(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["vocab_coverage_curve"](spark, SF_SMOKE).collect()
    assert [r["cutoff"] for r in rows] == [100, 1000, 10000]
    cov = [r["coverage_ppm"] for r in rows]
    assert cov == sorted(cov)  # more vocab never covers less
    assert all(0 <= c <= 1_000_000 for c in cov)
    # the fixture vocab is tiny → top-10000 covers everything
    assert rows[-1]["covered_tokens"] == rows[-1]["total_tokens"]


def test_source_length_percentiles_ordered(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["source_length_percentiles"](spark, SF_SMOKE).collect()
    for r in rows:
        assert r["p50_chars"] <= r["p90_chars"] <= r["p99_chars"], r
        assert r["n_docs"] > 0


def test_join_key_skew_profile_shape(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["join_key_skew_profile"](spark, SF_SMOKE).collect()
    assert len(rows) == 20
    shares = [r["n_rows"] for r in rows]
    assert shares == sorted(shares, reverse=True)
    assert all(r["share_ppm"] <= 1_000_000 for r in rows)
    # TPC-H orderkeys are near-uniform (≤7 lines/order): no real skew
    assert rows[0]["x_mean_pct"] < 500


def test_block_containment_detects_partial_copy(spark, tmp_path, monkeypatch):
    """A small doc fully quoted inside a big one: Jaccard is tiny but
    containment is 100% — the case this operator exists for."""
    from dbtransfer_spark.operators.dedup import block_containment_pairs

    small = " ".join(f"q{i}" for i in range(20))          # 2 blocks
    big = " ".join(f"b{i}" for i in range(200)) + " " + small  # 20 + the quote
    other = " ".join(f"z{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, small, "en", "s", len(small)),
         (2, big, "en", "s", len(big)),
         (3, other, "en", "s", len(other))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "fx")
    df.write.parquet(d + "/documents.parquet")
    rows = block_containment_pairs(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["containment_ppm"] == 1_000_000  # all of doc 1's blocks
    assert r["nb_a"] == 2


def test_segment_conversion_bounds(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = QUERIES["segment_conversion_rates"](spark, SF_SMOKE).collect()
    total_users = sum(r["n_users"] for r in rows)
    assert total_users > 0
    for r in rows:
        assert r["n_viewed"] <= r["n_users"]
        assert 0 <= r["view_to_purchase_ppm"] <= 1_000_000


def test_ab_test_split_is_balanced_and_exhaustive(spark):
    from dbtransfer_spark.registry import QUERIES

    r = QUERIES["ab_test_lift"](spark, SF_SMOKE).collect()[0]
    n = r["n_treatment"] + r["n_control"]
    import duckdb

    n_users = duckdb.sql(
        f"SELECT count(DISTINCT user_id) FROM '{SF_SMOKE}/events.parquet'"
    ).fetchone()[0]
    assert n == n_users  # every user lands in exactly one arm
    # md5 split is ~50/50; allow wide tolerance at fixture scale
    assert abs(r["n_treatment"] - r["n_control"]) < n * 0.4
    assert r["conv_treatment"] <= r["n_treatment"]
    assert r["conv_control"] <= r["n_control"]


def test_text_ops_handle_unicode(spark, tmp_path):
    """CJK / emoji / combining marks through the text pipeline: char
    counts are code-point based (not bytes), chunking never splits words,
    fingerprints are stable, nothing crashes."""
    from dbtransfer_spark.registry import QUERIES as TQ

    docs = [
        (1, "数据 处理 引擎 在 大规模 集群 上 运行", "zh", "s"),
        (2, "données and ünïcödé mixed crème brûlée text here", "fr", "s"),
        (3, "emoji 🎉 test 🚀 with spaces", "en", "s"),
        (4, "é combining mark then words follow after", "fr", "s"),
    ]
    d = str(tmp_path / "fx")
    spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(d + "/documents.parquet")

    stats = {r["doc_id"]: r for r in TQ["text_stats"](spark, d).collect()}
    for i, t, _l, _s in docs:
        assert stats[i]["n_chars_calc"] == len(t)          # code points, not bytes
        assert stats[i]["n_ws_tokens"] == len(t.split(" "))

    chunks = TQ["chunk_documents"](spark, d).collect()
    # reassembling every doc's chunk 0 prefix returns original tokens
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t, _l, _s in docs:
        first = min(by_doc[i], key=lambda r: r["chunk_idx"])
        assert t.startswith(first["chunk_text"][: len(t)])

    from dbtransfer_spark.registry import QUERIES

    fp1 = {r["doc_id"]: r["fingerprint"] for r in QUERIES["doc_fingerprint"](spark, d).collect()}
    fp2 = {r["doc_id"]: r["fingerprint"] for r in QUERIES["doc_fingerprint"](spark, d).collect()}
    assert fp1 == fp2  # deterministic on unicode input


def test_hll_sketch_partials_merge_to_direct_sketch(spark):
    """Sketch mergeability — the property that makes approximate
    distinct work at 100 TB: per-partition (here per-source) HLL
    sketches unioned together must equal the sketch built directly over
    the whole table (register-wise max is associative), so distinct
    counts compose across shards/days without a global shuffle of raw
    keys. Spark 4 datasketches surface: hll_sketch_agg / hll_union_agg /
    hll_sketch_estimate."""
    from pyspark.sql import functions as F

    from dbtransfer_spark.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    # explicit lgConfigK: at the default, the union path re-represents
    # HLL_4 registers through the union gadget and can drift by a few
    # counts; pinning the precision makes partial-vs-direct exact
    direct = docs.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(doc_id, 14))").alias("est")
    ).collect()[0]["est"]
    merged = (
        docs.groupBy("source")
        .agg(F.expr("hll_sketch_agg(doc_id, 14)").alias("sk"))
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
        .collect()[0]["est"]
    )
    assert merged == direct
    exact = docs.select("doc_id").distinct().count()
    assert abs(merged - exact) / exact < 0.05


# ---------------------------------------------------------------------------
# Round-7 second-wave property tests
# ---------------------------------------------------------------------------


def test_pq_codebook_matches_numpy_reimplementation(spark):
    """Independent oracle #2 for embedding_pq_codebook: replay the whole
    PQ training round (fixed-point, seeds, argmin with code tie-break,
    floor-division means, reassignment) in numpy integer arithmetic and
    require the 16-row codebook table to match EXACTLY."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from dbtransfer_spark.operators.similarity import (
        _PQ_D,
        _PQ_K,
        _PQ_M,
        embedding_pq_codebook,
    )

    tbl = pq.read_table(f"{SF_SMOKE}/embeddings.parquet").to_pandas()
    tbl = tbl.sort_values("vec_id").reset_index(drop=True)
    v = np.floor(
        np.stack(tbl["embedding"].to_numpy()).astype(np.float64) * 1_000_000.0
    ).astype(np.int64)
    rows = []
    for m in range(_PQ_M):
        sv = v[:, m * _PQ_D : (m + 1) * _PQ_D]
        cents = sv[:_PQ_K].copy()

        def assign(c):
            # dists: (n, k) exact int64; argmin with code tie-break
            d = ((sv[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            return d.argmin(axis=1), d.min(axis=1)

        code1, _ = assign(cents)
        newc = np.zeros_like(cents)
        for k in range(_PQ_K):
            mem = sv[code1 == k]
            if len(mem):
                s = mem.sum(axis=0)
                n = len(mem)
                newc[k] = (s - ((s % n + n) % n)) // n  # floor division
            else:
                newc[k] = cents[k]
        code2, dist2 = assign(newc)
        for k in range(_PQ_K):
            mask = code2 == k
            if mask.any():
                rows.append(
                    (m, k, int(mask.sum()), int(dist2[mask].sum()),
                     int(dist2[mask].sum()) // int(mask.sum()))
                )
    expected = pd.DataFrame(
        rows,
        columns=["subspace", "code", "n_assigned", "distortion_fp2",
                 "mean_distortion_fp2"],
    )
    got = embedding_pq_codebook(spark, SF_SMOKE).toPandas()
    pd.testing.assert_frame_equal(
        got.astype("int64").reset_index(drop=True),
        expected.astype("int64").reset_index(drop=True),
    )


def test_clamped_balance_matches_sequential_fold(spark):
    """The closed form bal = cum - min(0, runmin(cum)) must equal the
    literal per-day recursion bal_t = max(0, bal_{t-1} + delta_t)."""
    import pyarrow.parquet as pq

    from dbtransfer_spark.registry import QUERIES

    li = pq.read_table(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_suppkey", "l_shipdate", "l_returnflag", "l_quantity"],
    ).to_pandas()
    li["d"] = li["l_shipdate"].astype("datetime64[ns]").dt.date
    li["delta"] = li.apply(
        lambda r: int(r["l_quantity"])
        if r["l_returnflag"] == "R"
        else -int(r["l_quantity"]),
        axis=1,
    )
    daily = (
        li.groupby(["l_suppkey", "d"])["delta"].sum().reset_index()
        .sort_values(["l_suppkey", "d"])
    )
    expected = {}
    for supp, grp in daily.groupby("l_suppkey"):
        bal, peak, floored, final = 0, 0, 0, 0
        for delta in grp["delta"]:
            bal = max(0, bal + delta)
            peak = max(peak, bal)
            floored += 1 if bal == 0 else 0
            final = bal
        expected[int(supp)] = (len(grp), final, peak, floored)
    got = QUERIES["clamped_running_balance"](spark, SF_SMOKE).toPandas()
    for row in got.itertuples():
        assert expected[int(row.supplier)] == (
            int(row.n_days),
            int(row.final_balance),
            int(row.peak_balance),
            int(row.n_days_floored),
        ), f"supplier {row.supplier} mismatch"
    assert len(got) == len(expected)


def test_bloom_prefilter_has_no_false_negatives(spark):
    """Bloom soundness: every true dim member must pass the filter —
    n_bloom_pass ≥ n_true_match with n_false_pos the exact surplus,
    and the bit load must be consistent with a non-empty build."""
    from dbtransfer_spark.registry import QUERIES

    row = QUERIES["bloom_join_prefilter"](spark, SF_SMOKE).collect()[0]
    assert row.n_true_match > 0
    assert row.n_bloom_pass >= row.n_true_match
    assert row.n_false_pos == row.n_bloom_pass - row.n_true_match
    assert 0 < row.n_bits_set <= 1024
    assert row.fpr_ppm < 1_000_000


def test_winnowing_guarantee_on_shared_substring(spark):
    """The winnowing theorem: two documents sharing a verbatim run of
    ≥ k+w-1 normalized characters select at least one common
    fingerprint — checked through the operator's OWN selection helper
    (the zip-ladder `winnow_select_fps`), plus the base-128 packing's
    injectivity: the selected fingerprints must decode back to real
    8-grams of the input."""
    from pyspark.sql import functions as F

    from dbtransfer_spark.operators.dedup import winnow_select_fps

    shared = "thequickbrownfoxjumpsoverthelazydogandgrabsthesilverspoon"  # 57 chars
    a = "zzzz" + shared + "aaaa"
    b = "qqqqqq" + shared + "bbbbbb"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    content = df.select(
        "doc_id", F.col("text").alias("norm"),
        (F.length("text") - 8 + 1).alias("n_grams"),
    )
    sel = winnow_select_fps(content, key="doc_id").collect()
    fps: dict[int, set] = {}
    for r in sel:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "57-char shared run must share a fingerprint (k+w-1=11)"
    # injectivity of the base-128 packing: decode each fp to chars and
    # check the 8-gram actually occurs in the source doc
    texts = {1: a, 2: b}
    for r in sel:
        v, chars = r.fp, []
        for _ in range(8):
            chars.append(chr(v % 128))
            v //= 128
        gram = "".join(reversed(chars))
        assert gram in texts[r.doc_id], (r.fp, gram)


# ---- round-7 session-4 operators: invariants beyond the oracle hash ----


def test_fifo_allocation_conservation(spark):
    """FIFO matching conserves quantity: per part, matched <= min(received,
    issued), short = issued - matched, and a part with zero issues
    allocates nothing."""
    from dbtransfer_spark.operators.rangejoin import fifo_cost_allocation

    rows = fifo_cost_allocation(spark, SF_SMOKE).collect()
    assert rows, "no parts"
    for r in rows:
        assert r.matched_qty <= min(r.received_qty, r.issued_qty)
        assert r.short_qty == r.issued_qty - r.matched_qty
        assert r.short_qty >= 0
        if r.issued_qty == 0:
            assert r.matched_qty == 0 and r.alloc_cost_cents == 0
    # global mass balance: everything issued is either matched or short
    assert sum(r.matched_qty + r.short_qty for r in rows) == sum(
        r.issued_qty for r in rows
    )


def test_kappa_bounds_and_marginals(spark):
    """Cohen's kappa lies in [-1, 1]; the confusion cells partition n."""
    from dbtransfer_spark.operators.text import classifier_agreement_kappa

    r = classifier_agreement_kappa(spark, SF_SMOKE).collect()[0]
    assert r.n == r.n11 + r.n10 + r.n01 + r.n00
    assert -1.0 <= r.kappa <= 1.0
    assert 0 <= r.po_ppm <= 1_000_000 and 0 <= r.pe_ppm <= 1_000_000


def test_markov_stationary_mass(spark):
    """Fixed-point power iteration loses only floor-division mass: the
    stationary vector stays within 1% of the 1e12 budget and nonneg."""
    from dbtransfer_spark.operators.windows import markov_stationary_power

    rows = markov_stationary_power(spark, SF_SMOKE).collect()
    total = sum(r.pi_e12 for r in rows)
    assert all(r.pi_e12 >= 0 for r in rows)
    assert 0.99e12 <= total <= 1.0e12  # floor losses only shrink mass


def test_pca_power_normalization(spark):
    """After each normalize step max|v| == 1e6 exactly (the renormalizer
    divides by max|u|), and the returned vector is the full 8 dims."""
    from dbtransfer_spark.operators.similarity import embedding_pca_power_top1

    rows = embedding_pca_power_top1(spark, SF_SMOKE).collect()
    assert [r.dim for r in rows] == list(range(1, 9))
    assert max(abs(r.eigvec_e6) for r in rows) == 1_000_000


def test_ivm_matches_full_rebuild(spark):
    """The delta-merge refresh equals a from-scratch rebuild of the view
    over the post-CDC state (the IVM correctness property, asserted
    engine-side in addition to the DuckDB oracle)."""
    from pyspark.sql import functions as F

    from dbtransfer_spark.catalog import load_table
    from dbtransfer_spark.operators.cdc import ivm_delta_rollup

    got = {
        r.o_orderpriority: (r.n_orders, r.revenue_cents)
        for r in ivm_delta_rollup(spark, SF_SMOKE).collect()
    }
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    k = F.col("o_orderkey")
    final = orders.filter((k % 7 == 0) | (k % 13 != 0)).select(
        "o_orderpriority",
        (
            F.col("cents")
            + F.when((k % 7 != 0) & (k % 11 == 0), F.lit(500)).otherwise(F.lit(0))
        ).alias("cents"),
    )
    want = {
        r.o_orderpriority: (r.n, r.cents)
        for r in final.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
        .collect()
    }
    assert got == want


def test_link_prediction_candidates_nonadjacent(spark):
    """Every predicted pair is absent from the edge set and scored by at
    least one shared neighbor."""
    from dbtransfer_spark.operators.graph import (
        link_prediction_common_neighbors,
    )
    from dbtransfer_spark.catalog import load_table

    preds = link_prediction_common_neighbors(spark, SF_SMOKE).collect()
    assert preds and all(p.n_common >= 1 for p in preds)
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_partkey")
    a = li.selectExpr("l_orderkey AS ok", "l_partkey AS u")
    b = li.selectExpr("l_orderkey AS ok", "l_partkey AS v")
    edges = {
        (r.u, r.v)
        for r in a.join(b, "ok").filter("u < v").select("u", "v").distinct().collect()
    }
    for p in preds:
        assert (p.a, p.c) not in edges


def test_fair_share_properties(spark):
    """Max-min fairness invariants: allocation never exceeds capacity,
    nobody gets more than their demand, served demands sit at or below
    the common level, and the served set is a prefix of the demand
    order."""
    from dbtransfer_spark.queries import fair_share_allocation

    rows = fair_share_allocation(spark, SF_SMOKE).collect()
    total_demand = sum(r.demand_cents for r in rows)
    cap = total_demand * 4 // 5
    assert sum(r.allocated_cents for r in rows) <= cap
    for r in rows:
        assert r.allocated_cents <= r.demand_cents or r.fully_served
        assert 0 <= r.allocated_cents
    served = [r for r in rows if r.fully_served]
    unserved = [r for r in rows if not r.fully_served]
    if served and unserved:
        level = min(r.allocated_cents for r in unserved)
        assert max(r.demand_cents for r in served) <= level + 1
        # unserved all share the same level (equal split of remainder)
        assert len({r.allocated_cents for r in unserved}) == 1


def test_rate_limit_conservation(spark):
    """Admitted + rejected == total; peak burst is at least the admit
    cap whenever anything was rejected."""
    from dbtransfer_spark.operators.windows import rate_limit_admission_audit

    r = rate_limit_admission_audit(spark, SF_SMOKE).collect()[0]
    assert r.n_admitted + r.n_rejected == r.n_events
    if r.n_rejected:
        assert r.peak_burst > 5
        assert r.n_throttled_users >= 1


def test_cdc_dedup_matches_clean_log(spark):
    """The deduped state digest equals the digest computed from the
    UN-duplicated log — exactly-once effect, engine-side."""
    from pyspark.sql import functions as F

    from dbtransfer_spark.catalog import load_table
    from dbtransfer_spark.operators.cdc import cdc_at_least_once_dedup

    got = cdc_at_least_once_dedup(spark, SF_SMOKE).collect()[0]
    ev = load_table(spark, SF_SMOKE, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    clean_state = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "value")
    )
    clean_digest = clean_state.agg(
        F.md5(
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(
                            ":",
                            F.col("user_id").cast("string"),
                            "event_type",
                            F.expr(
                                "CAST(CAST(round(value * 100) AS BIGINT) AS STRING)"
                            ),
                        )
                    )
                ),
                ",",
            )
        ).alias("d")
    ).collect()[0].d
    assert got.state_digest == clean_digest
    assert got.n_suppressed == got.n_delivered - got.n_effective


def test_cdc_chunking_boundary_resync(spark):
    """THE content-defined-chunking property (why CDC beats fixed-size
    blocks for dedup): prepending an edit to a document changes only the
    chunks up to the first boundary after the edit — every later chunk
    reappears identically, because boundaries depend on local 8-gram
    content, not absolute offsets. Fixed-size blocks would shift every
    block. Verified through the operator's own cdc_chunks helper."""
    from pyspark.sql import functions as F

    from dbtransfer_spark.operators.dedup import _WN_K, cdc_chunks

    import hashlib

    base = "".join(
        hashlib.md5(str(i).encode()).hexdigest() for i in range(12)
    )  # 384 deterministic, aperiodic [0-9a-f] chars
    edited = "zz9q" + base
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    content = df.select(
        "doc_id",
        F.col("text").alias("norm"),
        (F.length("text") - _WN_K + 1).alias("n_grams"),
    )
    rows = cdc_chunks(content, "doc_id").collect()
    chunks = {1: [], 2: []}
    for r in rows:
        chunks[r.doc_id].append(r.ch)
    assert len(chunks[1]) > 3, "fixture must produce several chunks"
    # every base chunk after the first reappears in the edited doc
    assert set(chunks[1][1:]) <= set(chunks[2])
    # and the shared suffix is in the same order (resync, not shuffle)
    tail = chunks[1][1:]
    idx = [chunks[2].index(c) for c in tail]
    assert idx == sorted(idx)


def test_session_gap_sensitivity_monotone(spark):
    """Growing the inactivity threshold can only MERGE sessions:
    n_sessions is non-increasing in the gap parameter and the implied
    events-per-session average is non-decreasing; every threshold keeps
    at least one session per user."""
    from dbtransfer_spark.operators.windows import session_gap_sensitivity

    rows = session_gap_sensitivity(spark, SF_SMOKE).collect()
    assert [r.gap_minutes for r in rows] == [5, 15, 30, 60]
    ns = [r.n_sessions for r in rows]
    assert ns == sorted(ns, reverse=True)
    avg = [r.avg_events_per_session_ppm for r in rows]
    assert avg == sorted(avg)
    assert all(n >= 1 for n in ns)


def test_simhash_profile_sums_to_admitted_pairs(spark):
    """The hamming histogram must reconcile with dedup_simhash: the
    admitted-bucket mass equals the pair count the dedup query emits
    (same signatures, same candidates, same threshold)."""
    from dbtransfer_spark.operators.dedup import (
        dedup_simhash,
        simhash_hamming_profile,
    )

    prof = simhash_hamming_profile(spark, SF_SMOKE).collect()
    admitted_mass = sum(r.n_pairs for r in prof if r.admitted)
    assert all((r.hamming <= 8) == r.admitted for r in prof)
    assert admitted_mass == dedup_simhash(spark, SF_SMOKE).count()


def test_cents_power_sums_exact_multiblock(spark):
    """_cents_power_sums (queries.py, r11) must reproduce EXACT decimal
    power sums — it is the hot path under q1 / moment_stats / ols /
    correlation_matrix's oracle-paired hashes. Verified against a pure-
    Python integer reference on a fixture that exercises what production
    never does locally: block=4 forces many partial blocks per group
    (the 32768-row production bound collapses to one block at test row
    counts), plus NULL measures, sub-cent rounding (x.005 doubles), and
    an expression term (the q1 triple product)."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from dbtransfer_spark.queries import _cents_power_sums

    import random

    rng = random.Random(7)
    rows = []
    for i in range(1003):  # not a multiple of block=4: ragged last block
        g = rng.choice(["A", "B", "C"])
        x = round(rng.uniform(0, 100000), 2)
        y = None if i % 97 == 0 else round(rng.uniform(0, 0.1), 2)
        rows.append((g, x, y))
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = _cents_power_sums(
        df,
        ["g"],
        {"xc": "x", "yc": "y"},
        {"sx": ("xc", None), "sxx": ("xc", "xc"),
         "sxy": ("xc", "yc"), "tri": "xc*(100-yc)*(100+yc)"},
        block=4,
    ).collect()

    def cents(v):
        return None if v is None else int(Decimal(str(v)) * 100)

    ref = {}
    for g, x, y in rows:
        r = ref.setdefault(g, {"n": 0, "sx": 0, "sxx": 0, "sxy": None, "tri": None})
        r["n"] += 1
        xc, yc = cents(x), cents(y)
        r["sx"] += xc
        r["sxx"] += xc * xc
        if yc is not None:
            r["sxy"] = (r["sxy"] or 0) + xc * yc
            r["tri"] = (r["tri"] or 0) + xc * (100 - yc) * (100 + yc)
    assert len(out) == 3
    for row in out:
        e = ref[row["g"]]
        assert row["n"] == e["n"]
        for k in ("sx", "sxx", "sxy", "tri"):
            got = None if row[k] is None else int(row[k])
            assert got == e[k], (row["g"], k, got, e[k])


def test_shared_copurchase_frame_built_once_across_family(spark, tmp_path):
    """r11 VERDICT #1: two graph/basket-family queries in one session hit
    the session-shared co-purchase edge builder exactly once — the second
    query reuses the persisted frame instead of re-running the basket
    explode. Uses a private fixture dir so counts aren't contaminated by
    other tests touching the standard fixtures."""
    import shutil

    from dbtransfer_spark.operators import shared_frames
    from dbtransfer_spark.operators.graph import copurchase_triangles
    from dbtransfer_spark.queries import market_basket_pairs

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/lineitem.parquet",
                sf_dir / "lineitem.parquet")
    key = (
        spark.sparkContext.applicationId,
        os.path.realpath(str(sf_dir)),
        "copurchase_edges",
    )
    assert shared_frames.BUILD_COUNTS[key] == 0
    n_tri = copurchase_triangles(spark, str(sf_dir)).collect()
    assert shared_frames.BUILD_COUNTS[key] == 1
    n_mb = market_basket_pairs(spark, str(sf_dir)).count()
    assert shared_frames.BUILD_COUNTS[key] == 1  # reused, not rebuilt
    assert n_tri[0]["n_edges"] > 0 and n_mb >= 0
    # defensive re-persist path: an external clearCache() must not force
    # a plan rebuild, only a re-persist of the same frame
    spark.catalog.clearCache()
    df = shared_frames.copurchase_edges(spark, str(sf_dir))
    assert shared_frames.BUILD_COUNTS[key] == 1
    assert df.storageLevel.useMemory or df.storageLevel.useDisk


def test_shared_frame_cache_lru_bounded_across_datasets(spark, tmp_path, monkeypatch):
    """r12 VERDICT #7: a session that touches several sf_dirs must hold at
    most MAX_ENTRIES persisted shared frames — LRU eviction unpersists the
    oldest; a later consumer rebuilds it with identical values."""
    import shutil

    from dbtransfer_spark.operators import shared_frames

    dirs = []
    for tag in ("a", "b"):
        d = tmp_path / tag
        d.mkdir()
        shutil.copy(
            "/root/testdata/sf0.001/lineitem.parquet", d / "lineitem.parquet"
        )
        dirs.append(str(d))
    monkeypatch.setattr(shared_frames, "MAX_ENTRIES", 1)
    df_a = shared_frames.copurchase_edges(spark, dirs[0])
    n_a = df_a.count()
    df_b = shared_frames.copurchase_edges(spark, dirs[1])
    df_b.count()
    app = spark.sparkContext.applicationId
    live = [k for k in shared_frames._CACHE if k[0] == app]
    assert len(live) == 1, live  # dataset A evicted
    assert not (df_a.storageLevel.useMemory or df_a.storageLevel.useDisk)
    # rebuild after eviction is a real plan build with identical values
    key_a = (app, os.path.realpath(dirs[0]), "copurchase_edges")
    before = shared_frames.BUILD_COUNTS[key_a]
    df_a2 = shared_frames.copurchase_edges(spark, dirs[0])
    assert shared_frames.BUILD_COUNTS[key_a] == before + 1
    assert df_a2.count() == n_a


def test_family_queries_leave_no_query_local_caches(spark, tmp_path):
    """r12 ADVICE: query-local persists (triangles' deg/oriented,
    market_basket's marginals) must be released by the time the query
    returns — only shared_frames-owned frames may outlive a query, else
    a family session accumulates executor storage for the application
    lifetime."""
    import shutil

    from dbtransfer_spark.operators import shared_frames
    from dbtransfer_spark.operators.graph import copurchase_triangles
    from dbtransfer_spark.queries import market_basket_pairs

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/lineitem.parquet",
                sf_dir / "lineitem.parquet")
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()

    def n_persistent():
        return jsc.getPersistentRDDs().size()

    base = n_persistent()
    copurchase_triangles(spark, str(sf_dir)).collect()
    after_shared = len(
        {k for k in shared_frames.BUILD_COUNTS if k[1] == os.path.realpath(str(sf_dir))}
    )
    assert after_shared >= 1  # the shared edge frame was built
    # everything beyond the shared frame's own cache entry is a leak
    assert n_persistent() <= base + 1, (
        f"query-local caches leaked: {n_persistent()} vs base {base}"
    )
    market_basket_pairs(spark, str(sf_dir)).count()
    assert n_persistent() <= base + 1
    from dbtransfer_spark.operators.graph import degree_assortativity

    degree_assortativity(spark, str(sf_dir)).collect()
    assert n_persistent() <= base + 1


def test_reliable_checkpoint_knob_for_fixpoints(spark, tmp_path):
    """r11 VERDICT #5: when the session conf spark.dbtransfer.checkpointDir
    is set, the iterative fixpoints route round state through reliable
    DataFrame.checkpoint() (files on the configured FS, survives executor
    loss) instead of localCheckpoint — labels unchanged either way."""
    from dbtransfer_spark.operators.dedup import connected_components
    from dbtransfer_spark.operators.iterative import RELIABLE_DIR_CONF

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src long, dst long"
    )
    want = {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)}
    local = {
        (r.id, r.label) for r in connected_components(edges, "src", "dst").collect()
    }
    assert local == want
    ckdir = str(tmp_path / "ck")
    spark.conf.set(RELIABLE_DIR_CONF, ckdir)
    try:
        reliable = {
            (r.id, r.label)
            for r in connected_components(edges, "src", "dst").collect()
        }
    finally:
        spark.conf.unset(RELIABLE_DIR_CONF)
    assert reliable == want
    # the reliable path actually executed: checkpoint files exist
    ck_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckdir)
        for f in fs
    ]
    assert ck_files, "no reliable checkpoint files were written"


def test_reliable_checkpoint_superseded_rounds_deleted(spark, tmp_path):
    """r12 ADVICE: on the reliable path, free_local_checkpoint must DELETE
    the superseded round's durable files (unpersist is a no-op for
    reliable checkpoints and Spark's own cleaner needs a context-start
    conf + driver GC) — a long preemption-prone run must not grow the
    checkpoint dir unboundedly. Also pins the setCheckpointDir wiring to
    once-per-conf-value: repeated cut_lineage calls reuse ONE UUID
    session subdirectory instead of minting one per call."""
    from dbtransfer_spark.operators.iterative import (
        RELIABLE_DIR_CONF,
        cut_lineage,
        free_local_checkpoint,
    )

    ckdir = tmp_path / "ck2"
    spark.conf.set(RELIABLE_DIR_CONF, str(ckdir))
    try:
        df = spark.range(100)
        r1 = cut_lineage(df.selectExpr("id * 2 AS id"))
        r2 = cut_lineage(r1.selectExpr("id + 1 AS id"))

        def rdd_dirs():
            return sorted(
                os.path.join(dp, d)
                for dp, ds, _ in os.walk(ckdir)
                for d in ds
                if d.startswith("rdd-")
            )

        two = rdd_dirs()
        assert len(two) == 2, two
        # one UUID session dir for both rounds (exact conf tracking)
        sessions = {os.path.dirname(d) for d in two}
        assert len(sessions) == 1, sessions
        free_local_checkpoint(r1)
        one = rdd_dirs()
        assert len(one) == 1, one  # superseded round's files deleted
        assert r2.count() == 100  # survivor still readable
    finally:
        spark.conf.unset(RELIABLE_DIR_CONF)


def test_shared_frames_max_entries_floored_at_one():
    """r13 ADVICE: SPARK_GRAFT_SHARED_FRAMES_MAX=0 (or negative) must not
    silently disable shared-frame caching by evicting the just-inserted
    frame — the override is floored at 1."""
    from dbtransfer_spark.operators.shared_frames import _resolve_max_entries

    assert _resolve_max_entries(None) == 4
    assert _resolve_max_entries("2") == 2
    assert _resolve_max_entries("1") == 1
    assert _resolve_max_entries("0") == 1
    assert _resolve_max_entries("-3") == 1


def test_cut_lineage_prunes_dead_app_wiring_and_rewires(spark, tmp_path):
    """r13 ADVICE: the per-application setCheckpointDir record must not
    grow one entry per applicationId for process lifetime (dead app ids
    are pruned on the next wired call), and a stale record for the LIVE
    app (different conf value) still triggers a rewire to the conf'd
    directory."""
    from dbtransfer_spark.operators import iterative

    ckdir = tmp_path / "ck3"
    app = spark.sparkContext.applicationId
    iterative._WIRED_DIRS.clear()
    iterative._WIRED_DIRS["dead-app-1"] = "/tmp/elsewhere"
    iterative._WIRED_DIRS["dead-app-2"] = "/tmp/elsewhere2"
    spark.conf.set(iterative.RELIABLE_DIR_CONF, str(ckdir))
    try:
        out = iterative.cut_lineage(spark.range(10).selectExpr("id * 3 AS id"))
        assert out.count() == 10
        # dead applications pruned; only the live app remains, wired to conf
        assert set(iterative._WIRED_DIRS) == {app}
        assert iterative._WIRED_DIRS[app] == str(ckdir)
        # the checkpoint actually landed under the conf'd directory
        rdds = [
            os.path.join(dp, d)
            for dp, ds, _ in os.walk(ckdir)
            for d in ds
            if d.startswith("rdd-")
        ]
        assert rdds, "reliable checkpoint did not land in the conf'd dir"
        iterative.free_local_checkpoint(out)
    finally:
        spark.conf.unset(iterative.RELIABLE_DIR_CONF)


def test_checkpoint_delete_failure_warns_once(caplog):
    """r13 ADVICE: a failed reliable-checkpoint file deletion must be
    LOGGED (once per process), not silently swallowed — the silent path
    re-introduces unbounded checkpoint-dir growth invisibly."""
    import logging

    from dbtransfer_spark.operators import iterative

    iterative._DELETE_WARNED = False
    with caplog.at_level(logging.WARNING, logger=iterative.__name__):
        iterative._warn_delete_failed("/ck/rdd-1", "permission denied")
        iterative._warn_delete_failed("/ck/rdd-2", "permission denied")
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1  # once per process, further suppressed
    assert "rdd-1" in warnings[0].getMessage()
    iterative._DELETE_WARNED = False


def test_kcore_reliable_path_leaves_no_checkpoint_files(spark, tmp_path):
    """r13 ADVICE: kcore's kth + per-round 1-row stats checkpoints were
    the last durable files to outlive their query on the reliable path.
    The query now materializes its ≤4-row output eagerly and frees every
    checkpoint before returning — the configured checkpoint dir must be
    empty of rdd-* payload dirs afterwards."""
    import shutil

    from dbtransfer_spark.operators.graph import kcore_peel_rounds
    from dbtransfer_spark.operators.iterative import RELIABLE_DIR_CONF

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/lineitem.parquet",
                sf_dir / "lineitem.parquet")
    ckdir = tmp_path / "ck"
    spark.conf.set(RELIABLE_DIR_CONF, str(ckdir))
    try:
        out = kcore_peel_rounds(spark, str(sf_dir))
        assert out.count() == 4  # rounds 0-3
    finally:
        spark.conf.unset(RELIABLE_DIR_CONF)
    leftover = [
        os.path.join(dp, d)
        for dp, ds, _ in os.walk(ckdir)
        for d in ds
        if d.startswith("rdd-")
    ]
    assert not leftover, leftover


def test_bucketed_basket_build_skips_exchange_and_matches_plain(spark, tmp_path):
    """r15 (guide §6): when the ingest step has registered the bucketed
    basket projection, the co-purchase edge build reads it with NO
    exchange before the basket aggregate (the bucketed scan's
    HashPartitioning satisfies the groupBy clustering), and the values
    are identical to the plain-path build."""
    import re
    import shutil

    from dbtransfer_spark.catalog import (
        basket_table_name,
        ensure_bucketed_basket,
    )
    from dbtransfer_spark.operators import shared_frames

    d = tmp_path / "cache"
    d.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/lineitem.parquet", d / "lineitem.parquet"
    )
    cache = str(d)
    plain = shared_frames._build_copurchase_edges(spark, cache)
    plain_rows = {tuple(r) for r in plain.collect()}
    tbl = ensure_bucketed_basket(spark, cache, n_buckets=4)
    assert spark.catalog.tableExists(tbl) == True  # noqa: E712
    assert tbl == basket_table_name(cache)
    try:
        bucketed = shared_frames._build_copurchase_edges(spark, cache)
        txt = bucketed._sc._jvm.PythonSQLUtils.explainString(
            bucketed._jdf.queryExecution(), "formatted"
        )
        # exactly ONE exchange (the pair aggregate); none below the
        # basket aggregate
        assert len(re.findall(r"^\(\d+\) Exchange", txt, re.M)) == 1, txt
        assert "Bucketed: true" in txt, txt
        assert {tuple(r) for r in bucketed.collect()} == plain_rows
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
