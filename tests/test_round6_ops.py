"""Round-6 additions: ADC pack guards, residual IVF-PQ, the
count-guarded simjoin broadcast, CMS zero-frequency probes, and the
driver-local fit cache."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from uk_housing_dashboard_etl_spark.operators.pq import (
    _PACK,
    _shape,
    ivfpq_residual_build,
    ivfpq_topk,
    pq_fit,
)
from uk_housing_dashboard_etl_spark.operators.similarity import (
    brute_force_topk,
)


def _emb(spark, n=40, d=8):
    """Deterministic synthetic embeddings: two well-separated bands."""
    rows = [
        (i, [((i % 7) + 1 + j * ((i % 3) - 1)) / 7.0 for j in range(d)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_fit_rejects_k_above_pack(spark):
    with pytest.raises(ValueError, match="collide"):
        pq_fit(_emb(spark), m=2, k=_PACK + 24)


def test_shape_rejects_codebooks_with_oversized_cell_ids(spark):
    bad = spark.createDataFrame(
        [(0, _PACK, [0.0, 0.0])],
        "sub int, cell int, centroid array<double>",
    )
    with pytest.raises(ValueError, match="refit"):
        _shape(bad)


def test_ivfpq_residual_matches_topk_contract(spark):
    emb = _emb(spark)
    corpus = emb.where(F.col("vec_id") >= 5)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents, cells, codebooks, codes = ivfpq_residual_build(
        corpus, k_coarse=4, m=2, k=4,
        coarse_iterations=2, pq_iterations=2,
    )
    got = ivfpq_topk(
        codes, codebooks, cells, cents, corpus, queries,
        k=3, n_probes=2, oversample=3, residual=True,
    ).collect()
    assert got, "residual IVF-PQ returned no rows"
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == (
            list(range(1, len(rs) + 1))
        )
        scores = [r["score"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)


def test_ivfpq_residual_recall_reasonable(spark):
    """Rerank on the shortlist means residual mode must recover most of
    brute-force top-k even on tiny synthetic data."""
    emb = _emb(spark, n=60)
    corpus = emb.where(F.col("vec_id") >= 5)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents, cells, codebooks, codes = ivfpq_residual_build(
        corpus, k_coarse=4, m=2, k=8,
        coarse_iterations=2, pq_iterations=2,
    )
    approx = ivfpq_topk(
        codes, codebooks, cells, cents, corpus, queries,
        k=5, n_probes=3, oversample=4, residual=True,
    )
    exact = brute_force_topk(corpus, queries, k=5)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.5


def test_simjoin_sizing_is_adaptive_not_hinted(spark):
    """Round-8 revision of the broadcast guard test: the operator no
    longer pre-counts vocab/docs to place hints — AQE measures each
    shuffle's bytes at runtime and converts to broadcast when the built
    side fits. At test scale that must mean zero sort-merge joins in
    the EXECUTED plan; the logical plan must carry no manual hint (so
    a data-sized side at corpus scale can still shuffle)."""
    from uk_housing_dashboard_etl_spark.operators.simjoin import (
        _rank_pack,
        set_similarity_join,
    )

    # pin the confs the assertion depends on: the test verifies the
    # OPERATOR emits a hint-free plan that AQE can size, not whatever
    # broadcast threshold the ambient session happens to carry
    # (round-8 advice — a conftest/Spark-default change must not flip
    # this test without a product change)
    pinned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "10485760",
        "spark.sql.autoBroadcastJoinThreshold": "10485760",
    }
    saved = {k: spark.conf.get(k, None) for k in pinned}
    for k, v in pinned.items():
        spark.conf.set(k, v)

    try:
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "completely different text with no overlap at all here"),
            ],
            "doc_id long, text string",
        )
        toks = spark.createDataFrame(
            [(1, "a"), (1, "b"), (1, "a"), (2, "a")],
            "doc_id long, tok string",
        )
        df_map = spark.createDataFrame(
            [("a", 3), ("b", 1)], "tok string, __df long"
        )
        packed = _rank_pack(toks, df_map)
        # no manual hint anywhere: sizing is AQE's call
        assert "hint" not in (
            packed._jdf.queryExecution().analyzed().toString().lower()
        )
        # rarity-ordered DEDUPED pack semantics are unchanged
        got = sorted(map(tuple, packed.collect()))
        assert got == [(1, ["b", "a"], 2), (2, ["a"], 1)]
        result = set_similarity_join(docs, threshold=0.5, n=1)
        rows = sorted(map(tuple, result.collect()))
        assert rows  # docs 1-2 share 8 of 10 word tokens
        assert "hint" not in (
            result._jdf.queryExecution().analyzed().toString().lower()
        )
        # after execution AQE must have broadcast every join at this size
        # (toString prints the pre-AQE sketch under "== Initial Plan ==" —
        # only the final section reflects runtime decisions)
        executed = result._jdf.queryExecution().executedPlan().toString()
        final_plan = executed.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final_plan
        assert "BroadcastHashJoin" in final_plan
        assert "SortMergeJoin" not in final_plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cms_zero_frequency_probe_gets_row(spark):
    from uk_housing_dashboard_etl_spark.operators.sketches import (
        cms_frequency_estimates,
    )

    df = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    probes = spark.createDataFrame([(1,), (99,)], "k long")
    out = {r["k"]: r for r in cms_frequency_estimates(
        df, "k", probes, width=64, depth=2
    ).collect()}
    assert set(out) == {1, 99}
    assert out[1]["true_n"] == 2 and out[1]["never_under"]
    assert out[99]["true_n"] == 0
    assert out[99]["est_n"] >= 0 and out[99]["never_under"]


def test_fit_cache_stores_local_rows(spark):
    """The fit cache must hold plain rows (no pinned executor blocks)
    and serve bit-identical frames across calls."""
    from uk_housing_dashboard_etl_spark import contract

    calls = []

    def builder():
        calls.append(1)
        return spark.createDataFrame(
            [(0, 1, [0.5, 0.5])], "sub int, cell int, centroid array<double>"
        )

    sf = "/tmp/__fitcache_test__"
    key = (sf, "unit", contract._input_version(sf))
    contract._FIT_CACHE.pop(key, None)
    a = contract._cached_fit(spark, key[0], key[1], builder)
    b = contract._cached_fit(spark, key[0], key[1], builder)
    assert len(calls) == 1, "builder must run once"
    schema, rows = contract._FIT_CACHE[key]
    assert isinstance(rows, list), "cache must store driver-local rows"
    assert a.collect() == b.collect() == rows
    contract._FIT_CACHE.pop(key, None)


# --- round-6b: khop BFS, bloom-pruned join, PCA ---


def test_khop_distances_shortest_paths(spark):
    from uk_housing_dashboard_etl_spark.operators.graph import khop_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3)], "src long, dst long"
    )
    roots = spark.createDataFrame([(1,)], "root long")
    got = {
        (r["root"], r["node"]): r["dist"]
        for r in khop_distances(edges, roots, max_hops=2).collect()
    }
    # 1-3 direct edge shortcuts the 1-2-3 path; 4 is 2 hops via 3
    assert got == {(1, 1): 0, (1, 2): 1, (1, 3): 1, (1, 4): 2}


def test_khop_multi_root_and_hop_bound(spark):
    from uk_housing_dashboard_etl_spark.operators.graph import khop_distances

    # a 5-chain: hop bound 1 must stop each root at its neighbours
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "src long, dst long"
    )
    roots = spark.createDataFrame([(1,), (5,)], "root long")
    rows = khop_distances(edges, roots, max_hops=1).collect()
    got = {(r["root"], r["node"], r["dist"]) for r in rows}
    assert got == {(1, 1, 0), (1, 2, 1), (5, 5, 0), (5, 4, 1)}


def test_bloom_pruned_join_equals_plain_join(spark):
    from uk_housing_dashboard_etl_spark.operators.relational import (
        bloom_pruned_join,
    )

    fact = spark.createDataFrame(
        [(i, i % 37) for i in range(500)], "row_id long, fk long"
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in (0, 5, 11, 36)], "pk long, name string"
    )
    got = sorted(
        (r["row_id"], r["name"])
        for r in bloom_pruned_join(fact, dim, "fk", "pk").collect()
    )
    want = sorted(
        (r["row_id"], r["name"])
        for r in fact.join(dim, fact["fk"] == dim["pk"]).collect()
    )
    assert got == want and len(got) > 0


def test_bloom_dense_bitmap_shape_and_membership(spark):
    from uk_housing_dashboard_etl_spark.operators.relational import (
        bloom_dense_bitmap,
        bloom_probe,
    )
    from pyspark.sql import functions as F

    m_bits, k = 1 << 12, 3
    items = spark.createDataFrame(
        [(f"key{i}",) for i in range(50)], "v string"
    )
    bitmap = bloom_dense_bitmap(items, "v", m_bits, k)
    [row] = bitmap.collect()
    assert len(row["__bloom_bits"]) == m_bits // 64
    probes = spark.createDataFrame(
        [(f"key{i}",) for i in range(50)] + [("absent-zz",)], "v string"
    )
    hits = (
        probes.crossJoin(F.broadcast(bitmap))
        .select("v", bloom_probe(F.col("v"), m_bits, k).alias("hit"))
        .collect()
    )
    by_v = {r["v"]: r["hit"] for r in hits}
    # no false negatives, ever
    assert all(by_v[f"key{i}"] for i in range(50))


def test_pca_recovers_planted_direction(spark):
    import numpy as np

    from uk_housing_dashboard_etl_spark.operators.pca import (
        pca_fit,
        pca_project,
    )

    # points spread along (0.6, 0.8) with a small orthogonal wiggle
    rng = [((i * 37) % 101 - 50) / 10.0 for i in range(200)]
    wig = [((i * 53) % 7 - 3) / 30.0 for i in range(200)]
    rows = [
        (i, [0.6 * t - 0.8 * w + 1.0, 0.8 * t + 0.6 * w - 2.0])
        for i, (t, w) in enumerate(zip(rng, wig))
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fitted = pca_fit(emb, n_components=2)
    comps = fitted.collect()
    v1 = np.array(comps[0]["vector"])
    assert abs(abs(float(np.dot(v1, [0.6, 0.8]))) - 1.0) < 1e-3
    assert comps[0]["eigenvalue"] > comps[1]["eigenvalue"]
    # canonical sign: the largest-|coordinate| entry is positive
    for c in comps:
        v = np.array(c["vector"])
        assert v[int(np.argmax(np.abs(v)))] > 0
    # the spectral contract: each component's population score variance
    # is its eigenvalue within 5 %, and the eigenvalues do not increase
    scores = pca_project(emb, fitted).collect()
    lam = [c["eigenvalue"] for c in comps]
    assert lam == sorted(lam, reverse=True)
    for c in comps:
        s = np.array([r["score"] for r in scores if r["component"] == c["component"]])
        assert abs(s.var() - c["eigenvalue"]) <= 0.05 * max(c["eigenvalue"], 1e-12)
    # projection centers on the mean: scores of comp1 average ~0
    s1 = [r["score"] for r in scores if r["component"] == 1]
    assert abs(sum(s1) / len(s1)) < 1e-2


def test_mg_heavy_hitters_finds_all_true_heavies(spark):
    from uk_housing_dashboard_etl_spark.operators.sketches import (
        mg_heavy_hitters,
    )

    # 3 heavy keys (freq 200/150/120 of N=600 > N/5=120? use k=5) among
    # a long tail of singletons
    rows = (
        [("a",)] * 200 + [("b",)] * 150 + [("c",)] * 130
        + [(f"tail{i}",) for i in range(120)]
    )
    df = spark.createDataFrame(rows, "key string").repartition(7)
    out = {r["key"]: r for r in mg_heavy_hitters(df, "key", k=5).collect()}
    n = len(rows)
    exact_heavy = {"a", "b", "c"}  # each > n/5 = 120
    flagged = {k for k, r in out.items() if r["is_heavy"]}
    assert flagged == exact_heavy
    assert out["a"]["n"] == 200 and out["b"]["n"] == 150
    assert all(r["n_rows"] == n for r in out.values())


def test_link_prediction_square_graph(spark):
    from uk_housing_dashboard_etl_spark.operators.graph import (
        link_prediction,
    )

    # square 1-2-3-4-1: the two diagonals are the only predictions,
    # each with 2 common neighbours and Jaccard 2/2=1.0
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "src long, dst long"
    )
    got = link_prediction(edges, top_n=10).collect()
    pairs = {(r["src"], r["dst"]): r for r in got}
    assert set(pairs) == {(1, 3), (2, 4)}
    for r in got:
        assert r["common_neighbors"] == 2 and r["jaccard"] == 1.0
    assert sorted(r["rank"] for r in got) == [1, 2]


def test_autocorrelation_alternating_series(spark):
    from uk_housing_dashboard_etl_spark.operators.timeseries import (
        autocorrelation,
    )

    # x = +1,-1,+1,... : acf(1) ≈ -1 (n-1 of n pairs), acf(2) ≈ +1
    rows = [(i, 1.0 if i % 2 == 0 else -1.0) for i in range(40)]
    s = spark.createDataFrame(rows, "t int, x double")
    got = {r["lag"]: r for r in autocorrelation(s, "t", "x", 3).collect()}
    assert got[1]["n_pairs"] == 39 and got[2]["n_pairs"] == 38
    assert got[1]["acf"] < -0.9
    assert got[2]["acf"] > 0.9
    assert abs(got[3]["acf"] - got[1]["acf"]) < 0.1  # odd lags agree


def test_band_join_matches_naive(spark):
    from uk_housing_dashboard_etl_spark.operators.relational import band_join

    left = spark.createDataFrame(
        [(i, float(i * 3 % 50)) for i in range(80)], "lid long, lv double"
    )
    right = spark.createDataFrame(
        [(i, float(i * 7 % 50) + 0.5) for i in range(80)],
        "rid long, rv double",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in band_join(left, right, "lv", "rv", 2.0).collect()
    )
    want = sorted(
        (r["lid"], r["rid"])
        for r in left.crossJoin(right)
        .where(F.abs(F.col("lv") - F.col("rv")) <= 2.0)
        .collect()
    )
    assert got == want and len(got) > 0


def test_band_join_boundary_inclusive(spark):
    from uk_housing_dashboard_etl_spark.operators.relational import band_join

    left = spark.createDataFrame([(1, 10.0)], "lid long, lv double")
    right = spark.createDataFrame(
        [(1, 12.0), (2, 12.0001), (3, 8.0), (4, 7.9999)],
        "rid long, rv double",
    )
    got = {r["rid"] for r in band_join(left, right, "lv", "rv", 2.0).collect()}
    assert got == {1, 3}


def test_streaming_mg_candidates_superset(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from uk_housing_dashboard_etl_spark.streaming.topk_stream import (
        mg_candidate_stream,
    )
    from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
        run_stream_once,
    )

    schema = StructType(
        [StructField("k", StringType()), StructField("v", LongType())]
    )
    rows = (
        [("hot1", 1)] * 60 + [("hot2", 1)] * 40
        + [(f"tail{i}", 1) for i in range(50)]
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).write.parquet(src)
    sdf = mg_candidate_stream(spark, src, "k", schema, k=6, n_shards=2)
    cand = run_stream_once(
        sdf, query_name="mg_test_stream", output_mode="append"
    )
    keys = {r["key"] for r in cand.select("key").distinct().collect()}
    # every key above N_shard/6 must survive; hot1/hot2 dominate any shard
    assert {"hot1", "hot2"} <= keys
    # candidate volume stays sketch-grain: <= k per shard per batch
    per = cand.groupBy("shard", "batch_seq").count().collect()
    assert all(r["count"] <= 6 for r in per)


def test_matryoshka_recall_prefix_signal(spark):
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        matryoshka_recall,
    )

    # all signal in dims 1-2, dims 3-8 ZERO: the truncated dot product
    # and norms equal the full ones exactly, so the 2-dim ranking must
    # reproduce the full ranking (recall 1.0)
    rows = [
        (i, [float(i % 13) + 1.0, float((i * 5) % 11) + 1.0] + [0.0] * 6)
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = emb.where(F.col("vec_id") >= 4)
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = matryoshka_recall(corpus, queries, dims=(2, 8), k=5)
    rows_out = out.collect()
    by_dim = {}
    for r in rows_out:
        by_dim.setdefault(r["dim"], []).append(r["recall"])
    assert all(v == 1.0 for v in by_dim[8]), "full dim must self-agree"
    assert all(v == 1.0 for v in by_dim[2]), "prefix carries all signal"
    assert len(rows_out) == 2 * 4  # every (dim, query) answered


def test_matryoshka_recall_drops_when_signal_in_tail(spark):
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        matryoshka_recall,
    )

    # signal ONLY in the tail dims: a 2-dim truncation ranks on the
    # constant prefix (all-equal scores -> id-ordered) and must lose
    # most of the true top-k
    rows = [
        (i, [1.0, 1.0] + [float((i * 7) % 23), float((i * 3) % 19)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = emb.where(F.col("vec_id") >= 4)
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = matryoshka_recall(corpus, queries, dims=(2,), k=5).collect()
    mean_rec = sum(r["recall"] for r in out) / len(out)
    assert mean_rec < 0.9


def test_bpe_train_learns_frequent_pair_first(spark):
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "abab abab abab"), (2, "abab cd cd")],
        "doc_id long, text string",
    )
    merges = sorted(bpe_train(docs, n_merges=3).collect(), key=lambda r: r["rank"])
    # 'ab' is the most frequent adjacent pair, then 'abab' forms
    assert (merges[0]["left"], merges[0]["right"]) == ("a", "b")
    assert merges[1]["merged"] == "abab"


def test_bpe_apply_roundtrip_and_bounds(spark):
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        bpe_apply,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the the the"),
            (3, "unseen zzzqqq words"),
        ],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, n_merges=10)
    out = {r["doc_id"]: r for r in bpe_apply(docs, merges).collect()}
    for r in out.values():
        assert r["roundtrip_ok"] and r["compressed_ok"]
    assert out[2]["n_words"] == 3 and out[2]["n_symbols_before"] == 9
    # 'the' is the top word: after 10 merges it must be ONE token
    assert out[2]["n_symbols_after"] == 3


def test_salted_join_equals_plain_join(spark):
    from uk_housing_dashboard_etl_spark.functions.skew import salted_join

    fact = spark.createDataFrame(
        [(i, i % 5) for i in range(300)] + [(1000 + i, 2) for i in range(200)],
        "row_id long, fk long",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(5)], "pk long, name string"
    )
    got = sorted(
        (r["row_id"], r["name"])
        for r in salted_join(fact, dim, "fk", "pk", 8).collect()
    )
    want = sorted(
        (r["row_id"], r["name"])
        for r in fact.join(dim, fact["fk"] == dim["pk"]).collect()
    )
    assert got == want and len(got) == 500


def test_hll_intersection_estimate_bounds(spark):
    from uk_housing_dashboard_etl_spark.operators.sketches import (
        hll_intersection_estimate,
    )

    rows = (
        [("a", i) for i in range(400)]          # A = 0..399
        + [("b", i) for i in range(200, 700)]   # B = 200..699
        + [("c", i) for i in range(50)]         # noise set, excluded
    )
    df = spark.createDataFrame(rows, "s string, id long")
    [r] = hll_intersection_estimate(df, "s", "id", "a", "b").collect()
    assert r["exact_a"] == 400 and r["exact_b"] == 500
    assert r["exact_union"] == 700 and r["exact_inter"] == 200
    assert r["within_bound"]
    assert abs(r["est_inter"] - 200) <= 0.05 * 700


def test_bloom_pruned_join_filters_fact_before_exchange(spark):
    """The Bloom probe must run as a row-local Filter on the fact scan
    side (below the equi-join), and the bitmap must arrive via a 1-row
    broadcast — never a shuffle."""
    from uk_housing_dashboard_etl_spark.operators.relational import (
        bloom_pruned_join,
    )

    fact = spark.range(0, 10000).select(
        F.col("id").alias("row_id"), (F.col("id") % 97).alias("fk")
    )
    dim = spark.range(0, 7).select(
        F.col("id").alias("pk"), F.concat(F.lit("d"), F.col("id")).alias("nm")
    )
    plan = (
        bloom_pruned_join(fact, dim, "fk", "pk")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "xxhash64" in plan, "bloom probe filter missing from the plan"
    # the 1-row bitmap joins as a broadcast nested loop (no join keys),
    # so the probed fact never shuffles to discover non-matches
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_band_join_plans_as_equi_join(spark):
    """The bucketed band join must plan as a hash/sort-merge equi-join
    on the bucket id — never a nested-loop/cartesian theta join."""
    from uk_housing_dashboard_etl_spark.operators.relational import band_join

    left = spark.range(0, 5000).select(
        F.col("id").alias("lid"), (F.col("id") % 211).cast("double").alias("lv")
    )
    right = spark.range(0, 5000).select(
        F.col("id").alias("rid"), (F.col("id") % 223).cast("double").alias("rv")
    )
    plan = (
        band_join(left, right, "lv", "rv", 2.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_normalize_ranks_per_dimension(spark):
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        quantile_normalize,
    )

    emb = spark.createDataFrame(
        [
            (1, [10.0, 5.0]),
            (2, [20.0, 5.0]),
            (3, [30.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["vec_id"], r["dim"]): r["q"]
        for r in quantile_normalize(emb).collect()
    }
    # dim 1: strictly increasing -> 0, 0.5, 1
    assert got[(1, 1)] == 0.0 and got[(2, 1)] == 0.5 and got[(3, 1)] == 1.0
    # dim 2: tie at 5.0 shares percent_rank 0.5; the 1.0 value is rank 0
    assert got[(3, 2)] == 0.0
    assert got[(1, 2)] == got[(2, 2)] == 0.5


def test_winsorized_stats_clips_outliers(spark):
    from uk_housing_dashboard_etl_spark.operators.stats import (
        winsorized_stats,
    )

    # one group: 19 values at 10.0 and one huge outlier
    rows = [("g", 10.0)] * 19 + [("g", 1000.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    [r] = winsorized_stats(df, "grp", "v", lo=0.05, hi=0.95).collect()
    assert r["n"] == 20
    assert r["raw_mean"] == 59.5
    # p95 (interpolated over 19x10+1000) pins the fence near 10,
    # so the winsorized mean collapses toward 10 and below the raw mean
    assert r["winsorized_mean"] < r["raw_mean"]
    assert r["winsorized_mean"] < 70.0
    assert r["p_lo"] == 10.0


def test_expectation_suite_counts_violations_and_nulls(spark):
    from uk_housing_dashboard_etl_spark.operators.stats import (
        expectation_suite,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -3.0), (3, None), (4, 5.0)],
        "id long, v double",
    )
    out = {
        r["check_name"]: r
        for r in expectation_suite(
            df,
            [
                ("v_non_negative", F.col("v") >= 0),
                ("id_positive", F.col("id") > 0),
            ],
        ).collect()
    }
    # NULL predicate result counts as a violation (unknown != verified)
    assert out["v_non_negative"]["n_violations"] == 2
    assert not out["v_non_negative"]["passed"]
    assert out["id_positive"]["n_violations"] == 0
    assert out["id_positive"]["passed"]
    assert all(r["n_rows"] == 4 for r in out.values())
