"""Unit tests for operators/functions not fully covered by the oracle
suite: LSH recall, UDF surface, sources, multimodal decode."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from python_cdc_spark.functions.udfs import cosine_pandas, slug_udf, weighted_mean_pandas
from python_cdc_spark.functions.vectors import cosine_similarity
from python_cdc_spark.io import table
from python_cdc_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from python_cdc_spark.sources import read_csv, read_json, write_golden_feed


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("lazy", "sleepy")  # one-token change → high jaccard
    far = "completely different content about spark query engines at scale"
    rows = [(1, base), (2, near), (3, far), (4, base + " extra token")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_finds_planted_near_dups(spark):
    """MinHash-LSH must surface the high-Jaccard pairs (recall) and the
    exact Jaccard join must agree on their similarity."""
    docs = _docs(spark)
    sigs = minhash_signatures(docs, "text", "doc_id", n=3, k=12)
    assert sigs.count() == 4
    pairs = {
        (r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, 12, 4).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.5).collect()
    }
    # the two heavily-overlapping pairs must be found by both paths
    assert (1, 4) in exact and exact[(1, 4)] > 0.7
    assert (1, 2) in exact
    assert (1, 4) in pairs
    # LSH candidates are a superset-in-spirit: no high-jaccard pair missed
    for pair, j in exact.items():
        if j >= 0.8:
            assert pair in pairs, f"LSH missed {pair} (jaccard {j})"


def test_simhash_identical_docs_collide(spark):
    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "xyz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["id"]: r["simhash"] for r in simhash(df, "text", "doc_id").collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]
    assert 0 <= fp[1] < 2**16


def test_pandas_cosine_matches_expression(spark):
    """Two independent cosine implementations (Arrow pandas UDF vs JVM
    expression) must agree to float tolerance."""
    rows = [
        (1, [1.0, 2.0, 3.0], [1.0, 2.0, 3.0]),
        (2, [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),
        (3, [0.5, -0.5, 2.0], [1.5, 0.25, -0.75]),
    ]
    df = spark.createDataFrame(rows, "id long, a array<float>, b array<float>")
    got = df.select(
        "id",
        cosine_pandas()("a", "b").alias("c_udf"),
        cosine_similarity(F.col("a"), F.col("b")).alias("c_expr"),
    ).collect()
    for r in got:
        assert math.isclose(r["c_udf"], r["c_expr"], rel_tol=1e-6), r


def test_grouped_agg_pandas_udf(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 3.0, 3.0), ("b", 10.0, 1.0)],
        "g string, v double, w double",
    )
    got = {
        r["g"]: r["wm"]
        for r in df.groupBy("g").agg(weighted_mean_pandas()("v", "w").alias("wm")).collect()
    }
    assert math.isclose(got["a"], (1 * 1 + 3 * 3) / 4)
    assert math.isclose(got["b"], 10.0)


def test_row_udf_and_udtf(spark):
    df = spark.createDataFrame([("Hello Big World",)], "s string")
    assert df.select(slug_udf()("s").alias("x")).collect()[0]["x"] == "hello-big-world"

    from python_cdc_spark.functions.udfs import token_udtf_class

    TokenExplode = token_udtf_class()
    spark.udtf.register("token_explode", TokenExplode)
    rows = spark.sql(
        "SELECT t.pos, t.token FROM token_explode('a b c') AS t"
    ).collect()
    assert [(r["pos"], r["token"]) for r in rows] == [(0, "a"), (1, "b"), (2, "c")]


def test_sources_roundtrip(spark, tmp_path):
    feed_dir = str(tmp_path / "golden")
    write_golden_feed(spark, feed_dir)
    from python_cdc_spark.cdc.feed import read_feed

    feed = read_feed(spark, feed_dir)
    ops = [r["operation"] for r in feed.orderBy("lsn").collect()]
    assert ops == ["INSERT", "UPDATE", "DELETE"]

    # corrupt-record channel: malformed line is captured, not dropped
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "a.json").write_text('{"k": 1}\nnot json at all\n')
    # (Spark disallows queries touching ONLY the corrupt column on a raw
    # JSON scan — collect full rows instead)
    rows = read_json(spark, str(bad), "k bigint").collect()
    assert sum(1 for r in rows if r["_corrupt_record"] is not None) == 1
    assert sum(1 for r in rows if r["k"] == 1) == 1

    # CSV round trip
    csv_dir = str(tmp_path / "csv")
    spark.createDataFrame([(1, "x")], "id long, s string").write.option(
        "header", "true"
    ).csv(csv_dir)
    back = read_csv(spark, csv_dir, "id long, s string")
    assert back.collect() == [(1, "x")] or [
        (r["id"], r["s"]) for r in back.collect()
    ] == [(1, "x")]


def test_multimodal_decode_features(spark):
    """The Arrow decode path yields normalized byte-histogram features."""
    from python_cdc_spark.multimodal import attach_binary_payload, decode_media

    df = spark.createDataFrame([(1, "abcd")], "doc_id long, text string")
    out = decode_media(attach_binary_payload(df), "doc_id", "payload").collect()[0]
    assert out["n_bytes"] == 4
    assert out["width"] == ord("a") + 1
    assert out["height"] == ord("d") + 1
    assert len(out["features"]) == 8
    # bytes spread across first 4 histogram buckets, scaled by n
    assert math.isclose(out["features"][0], ord("a") / 4.0, rel_tol=1e-6)


def test_sql_api_views(spark):
    """SQL-only users can reach engine capabilities as views."""
    from python_cdc_spark.sql_api import register_all

    names = register_all(spark, "/root/testdata/sf0.001")
    assert "cdc_current_state" in names and "doc_near_dups" in names
    n_users = spark.sql("SELECT COUNT(*) AS n FROM cdc_current_state").collect()[0]["n"]
    assert n_users > 0
    joined = spark.sql(
        """
        SELECT s.key, s.values['event_type'] AS last_event_type, q.keep
        FROM cdc_current_state s
        JOIN doc_quality q ON CAST(s.key AS BIGINT) = q.doc_id
        LIMIT 5
        """
    ).collect()
    assert len(joined) > 0


def test_ann_recall_vs_brute_force(spark):
    """Measure (and floor) the recall of both ANN paths against the
    exact brute-force top-5 at sf0.1 — the quality metric an ANN
    operator must report, not assume. Uses the double-math fast variants
    (recall measures candidate structure; decimal routing exists only
    for oracle hashing)."""
    from python_cdc_spark.operators.similarity import brute_force_top_k
    from python_cdc_spark.queries.llm_similarity import (
        _RQ_SHORTLIST,
        ann_lsh_topk_fast,
        ivf_topk_fast,
        ivfpq_topk_fast,
        ivfrq_topk_fast,
        rq_topk_fast,
    )

    sf = "/root/testdata/sf0.1"

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    e = table(spark, sf, "embeddings")
    brute = topk_sets(
        brute_force_top_k(
            e, e.filter(F.col("vec_id") % 100 == 0), "vec_id", "embedding", 5, exact=False
        )
    )
    # floors are method- and data-specific: the corpus is near-uniform
    # random unit vectors (label centroids have norm ~0.07), so recall
    # comes from geometry alone. Measured here: multi-table LSH ~0.3;
    # k-means IVF with nprobe=4 of k=16 cells ~0.6 while scanning ~25%
    # of the corpus.
    #
    # Probe economics (measured sweep, this corpus): IVF cell-pruning
    # with exact re-rank caps at ~0.42 recall when candidates are held
    # to <=10% of corpus rows (k=64/nprobe=6: 0.40 at 9.4%; 2x corpus
    # multi-assign k=64/nprobe=3: 0.42 at 9.2%) — uniform random
    # vectors are IVF's worst case, cell membership of true neighbors
    # is weakly correlated with the query's cells. The configuration
    # that DOES clear 0.6 under a 10%-of-expensive-reads budget is the
    # codes-only ADC scan (residual quantization): every vector's 8-byte
    # code is touched (1.6% of corpus BYTES) but full vectors are read
    # only for the 128-id shortlist = 2.6% of rows — and recall@5 is
    # ~0.92. Asserted below: the RQ path beats 0.9 while its full-vector
    # reads stay under 10% of the corpus.
    # The IVF-PQ composite bounds BOTH which rows (nprobe=8/16 inverted
    # lists) and what is read for them (m=4 codes): measured 0.45 at
    # 6.4% full-vector reads — candidate cap × 16-bit ADC dilution; the
    # knobs are nprobe, m, and shortlist (swap in the RQ codes for the
    # 2-stage fidelity at the same join shape).
    # The IVF-RQ composite does exactly that swap AND probes wide
    # (k=64, nprobe=40): the 8 B/vector residual codes make scanning 62%
    # of the codes table <1% of corpus bytes, lifting the candidate
    # ceiling that capped IVF-PQ, while full-vector reads stay at the
    # 128-id shortlist (6.4% of rows). Measured 0.91; floored 0.85.
    floors = {
        "ann_lsh": (ann_lsh_topk_fast, 0.15),
        "ivf_kmeans": (ivf_topk_fast, 0.5),
        "rq_adc": (rq_topk_fast, 0.9),
        "ivfpq": (ivfpq_topk_fast, 0.4),
        "ivfrq": (ivfrq_topk_fast, 0.85),
    }
    n_corpus = e.count()
    assert _RQ_SHORTLIST / n_corpus <= 0.10, "RQ full-vector read budget"
    for name, (fn, floor) in floors.items():
        approx = topk_sets(fn(spark, sf))
        hits = sum(len(brute[q] & approx.get(q, set())) for q in brute)
        total = sum(len(v) for v in brute.values())
        recall = hits / total if total else 0.0
        print(f"{name} recall@5 = {recall:.2f}")
        assert recall >= floor, f"{name} recall collapsed: {recall}"


def test_registry_hygiene(spark):
    """Every registry entry carries documentation; every oracle query
    only references the pre-registered view names."""
    import re

    from python_cdc_spark.queries import QUERIES
    from python_cdc_spark.schemas import ANALYTIC_TABLES

    for name, spec in QUERIES.items():
        assert spec.doc and spec.doc.strip(), f"{name} lacks doc"
        if spec.oracle:
            froms = set(
                m.group(1).lower()
                for m in re.finditer(r"(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)", spec.oracle)
            )
            unknown = froms - set(ANALYTIC_TABLES)
            # CTE names are allowed; they must be defined in the query
            for t in unknown:
                assert re.search(
                    rf"(?i)\b{t}\s+AS\s*\(", spec.oracle
                ) or re.search(rf"(?i)\(\s*SELECT", spec.oracle), (
                    f"{name}: oracle references unknown relation {t}"
                )


def test_connected_components_chain_and_clique(spark):
    """A 5-node chain needs multi-round propagation (diameter 4); a
    separate triangle and an isolated pair check component separation."""
    from python_cdc_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain -> component 1
         (10, 11), (11, 12), (10, 12),        # triangle -> component 10
         (20, 21)],                           # pair -> component 20
        ["s", "d"],
    )
    got = {
        (r["v"], r["component"])
        for r in connected_components(edges, "s", "d").collect()
    }
    want = (
        {(v, 1) for v in (1, 2, 3, 4, 5)}
        | {(v, 10) for v in (10, 11, 12)}
        | {(v, 20) for v in (20, 21)}
    )
    assert got == want


def test_components_warn_on_nonconvergence(spark, monkeypatch):
    """Exhausting max_iter with labels still moving must WARN — silent
    partial component ids were ADVICE r2's correctness trap. Only the
    ITERATIVE path can run out of rounds, so force it (edges at or
    under _LOCAL_CC_MAX_EDGES take the always-exact single-task path)."""
    import warnings as _w

    from python_cdc_spark.operators import components as comp_mod
    from python_cdc_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    monkeypatch.setattr(comp_mod, "_LOCAL_CC_MAX_EDGES", -1)
    chain = spark.createDataFrame([(i, i + 1) for i in range(6)], ["s", "d"])
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        connected_components(chain, "s", "d", max_iter=2).collect()
    assert any("did not converge" in str(c.message) for c in caught)

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        connected_components_star(chain, "s", "d", max_iter=1).collect()
    assert any("fixpoint" in str(c.message) for c in caught)

    # a converged run must NOT warn
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        connected_components(chain, "s", "d").collect()
    assert not [c for c in caught if issubclass(c.category, RuntimeWarning)]


def test_components_single_task_matches_iterative(spark, monkeypatch):
    """The r13 size-gated single-task union-find path must emit exactly
    the iterative propagation loop's labels (one (v, component) row per
    vertex, component = min reachable id) on chains, cliques, merged
    stars, self-loops, and duplicate/reversed edges."""
    from python_cdc_spark.operators import components as comp_mod

    edges = (
        # two chains, one clique, a self-loop, dup + reversed edges
        [(i, i + 1) for i in range(0, 8)]
        + [(20, 21), (21, 22), (22, 20), (20, 22)]
        + [(30, 30)]
        + [(40, 41), (41, 40), (40, 41)]
    )
    df = spark.createDataFrame(edges, ["s", "d"])
    got_local = {
        (r["v"], r["component"])
        for r in comp_mod.connected_components(df, "s", "d").collect()
    }
    monkeypatch.setattr(comp_mod, "_LOCAL_CC_MAX_EDGES", -1)
    got_iter = {
        (r["v"], r["component"])
        for r in comp_mod.connected_components(df, "s", "d").collect()
    }
    assert got_local == got_iter
    assert got_local  # non-degenerate
    # spot-pin the canonical-min contract
    assert (22, 20) in got_local and (30, 30) in got_local


def test_interval_overlap_join_matches_bruteforce(spark):
    """Banded interval-overlap join (first-shared-band dedup, no
    DISTINCT) must equal the brute-force cross-join filter — including
    pairs spanning several shared bands (forced by tiny band_width)."""
    from python_cdc_spark.operators.rangejoin import interval_overlap_join

    ivs_a = [(1, 0.0, 10.0), (2, 5.0, 6.0), (3, 20.0, 30.0), (4, 9.5, 21.0)]
    ivs_b = [(10, 8.0, 25.0), (11, 0.5, 1.5), (12, 31.0, 40.0), (13, 6.5, 6.9)]
    a = spark.createDataFrame(ivs_a, ["aid", "a_lo", "a_hi"])
    b = spark.createDataFrame(ivs_b, ["bid", "b_lo", "b_hi"])

    got = {
        (r["aid"], r["bid"])
        for r in interval_overlap_join(
            a, b, "a_lo", "a_hi", "b_lo", "b_hi", band_width=2.0
        ).collect()
    }
    brute = {
        (ai, bi)
        for ai, alo, ahi in ivs_a
        for bi, blo, bhi in ivs_b
        if alo <= bhi and blo <= ahi
    }
    assert got == brute


def test_star_components_long_chain(spark):
    """Star contraction must collapse a 12-node path (diameter 11) —
    the adversarial case for diameter-bounded propagation."""
    from python_cdc_spark.operators.components import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)] + [(50, 51)], ["s", "d"]
    )
    got = {
        (r["v"], r["component"])
        for r in connected_components_star(edges, "s", "d").collect()
    }
    assert got == {(v, 0) for v in range(12)} | {(50, 50), (51, 50)}


def test_pq_adc_recall_vs_brute_force(spark):
    """PQ codes + ADC shortlist + exact re-rank must recover a
    substantial share of the true top-5 while scanning only the 4-byte
    code table (128x compression at m=4, k=16)."""
    from python_cdc_spark.operators.pq import pq_adc_topk, pq_encode, pq_fit
    from python_cdc_spark.operators.similarity import brute_force_top_k

    e = table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0)

    book = pq_fit(e, m=4, dims=64, k=16, iters=2, exact=False).localCheckpoint()
    codes = pq_encode(e, book, m=4, dims=64, exact=False).localCheckpoint()
    got = pq_adc_topk(e, codes, book, queries, k_top=5, shortlist=64)

    truth = brute_force_top_k(e, queries, "vec_id", "embedding", 5, exact=False)
    t = {
        (r["query_id"], r["neighbor_id"])
        for r in truth.select("query_id", "neighbor_id").collect()
    }
    g = {
        (r["query_id"], r["neighbor_id"])
        for r in got.select("query_id", "neighbor_id").collect()
    }
    recall = len(t & g) / len(t)
    # random-unit-vector corpus: geometry is nearly structureless, so
    # the shortlist (64 of ~1.6k) carries most of the recall
    assert recall >= 0.5, f"PQ recall@5 too low: {recall:.2f}"


def test_ivfpq_persistent_index_roundtrip(spark, tmp_path):
    """Persisted IVF-PQ index: query-from-disk must equal query-from-
    memory, and the probed read must PRUNE cell partitions (directory-
    level PartitionFilters), not scan the whole codes table."""
    from python_cdc_spark.operators.ann_index import (
        ivf_pq_topk_from_index,
        load_ivfpq_index,
        save_ivfpq_index,
    )
    from python_cdc_spark.operators.pq import ivf_pq_topk, pq_encode, pq_fit
    from python_cdc_spark.operators.similarity import kmeans_assign, kmeans_fit

    sf = "/root/testdata/sf0.01"
    e = table(spark, sf, "embeddings")
    cent = kmeans_fit(e, k=16, iters=1, exact=False).localCheckpoint()
    assigned = kmeans_assign(e, cent, exact=False).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    book = pq_fit(e, m=4, dims=64, k=16, iters=1, exact=False).localCheckpoint()
    codes = pq_encode(e, book, m=4, dims=64, exact=False)
    queries = e.filter(F.col("vec_id") % 100 == 0)

    mem = ivf_pq_topk(
        e, cent, assigned, codes, book, queries,
        k_top=5, nprobe=4, shortlist=32, m=4, dims=64,
    ).collect()

    idx_dir = str(tmp_path / "ivfpq_index")
    save_ivfpq_index(idx_dir, cent, assigned, codes, book)
    disk = ivf_pq_topk_from_index(
        spark, e, idx_dir, queries,
        k_top=5, nprobe=4, shortlist=32, m=4, dims=64,
    ).collect()
    assert sorted(map(tuple, mem)) == sorted(map(tuple, disk))

    # pruning: a cell filter on the persisted layout must reach the scan
    # as a partition filter covering only the requested directories
    cells = load_ivfpq_index(spark, idx_dir)["cells"].filter(F.col("cell").isin([0, 1]))
    plan = cells._sc._jvm.PythonSQLUtils.explainString(
        cells._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    got_cells = {r["cell"] for r in cells.select("cell").distinct().collect()}
    assert got_cells <= {0, 1}


def test_ivfrq_probe_knob_adapts_to_clustered_corpus(spark):
    """The driver corpus is near-uniform random — IVF's worst case, where
    the IVF-RQ composite needs nprobe=40 of k=64 cells for recall 0.91.
    This pins the other end: on a CLUSTERED corpus (20 centers, 0.05
    noise — the shape real embedding corpora have) nprobe=4 of the same
    k=64 index reaches recall@5 = 1.0 at the same 128-id shortlist —
    10× fewer probes, ~6% of candidates. The wide-probe setting is a
    worst-case knob, not a fixed cost. (Also measured: at shortlist=64
    the tight clusters saturate the ADC shortlist and recall plateaus
    at 0.75 regardless of probes — the shortlist must exceed the
    cluster's near-tie population.)"""
    import numpy as np

    from python_cdc_spark.operators.pq import ivf_rq_topk, rq_encode, rq_fit
    from python_cdc_spark.operators.similarity import (
        brute_force_top_k,
        kmeans_assign,
        kmeans_fit,
    )

    rng = np.random.RandomState(7)
    centers = rng.randn(20, 64)
    rows = []
    for i in range(2000):
        v = centers[i % 20] + 0.05 * rng.randn(64)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).localCheckpoint()
    q = e.filter(F.col("vec_id") % 100 == 0)
    truth = {}
    for r in brute_force_top_k(e, q, "vec_id", "embedding", 5, exact=False).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    book = rq_fit(e, m=8, dims=64, k=16, iters=2, exact=False).localCheckpoint()
    codes = rq_encode(e, book, m=8, dims=64, exact=False).localCheckpoint()
    cent = kmeans_fit(e, k=64, iters=3, exact=False).localCheckpoint()
    assigned = kmeans_assign(e, cent, exact=False).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    got = {}
    for r in ivf_rq_topk(
        e, cent, assigned, codes, book, q,
        k_top=5, nprobe=4, shortlist=128, m=8, dims=64, exact=False,
    ).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[k] & got.get(k, set())) for k in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    print(f"clustered ivfrq nprobe=4 recall@5 = {recall:.2f}")
    assert recall >= 0.95, f"clustered-corpus recall collapsed: {recall}"


def test_skew_mitigations_preserve_answers(spark):
    """Regression guard for the sf1 skew benchmark (tools/bench_skew.py):
    on a pathological distribution (one key = 50% of rows, uniform cold
    tail) the salted two-phase aggregate and the replicated skew join
    must produce IDENTICAL answers to their direct counterparts — a
    mitigation that changes results is a bug, not an optimization."""
    from python_cdc_spark.operators.skew import replicated_skew_join, salted_groupby

    n = 100_000
    ev = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.when(F.pmod(F.xxhash64("id"), 2) == 0, F.lit(0))
            .otherwise(1 + F.pmod(F.xxhash64("id", F.lit(1)), 999))
            .alias("user_id"),
            (F.col("id") % 100).cast("double").alias("value"),
        )
    )
    hot = ev.filter(F.col("user_id") == 0).count()
    assert 0.4 < hot / n < 0.6, "fixture lost its hot key"

    direct = {
        r["user_id"]: (round(r["s"], 6), r["n"])
        for r in ev.groupBy("user_id")
        .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        r["user_id"]: (round(r["s"], 6), r["n"])
        for r in salted_groupby(
            ev, ["user_id"],
            [(F.col("value"), "sum", "s"), (F.lit(1), "count", "n")],
            salt_buckets=16,
        ).collect()
    }
    assert direct == salted

    dim = spark.range(1000).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("segment")
    )
    plain = {
        r["segment"]: r["count"]
        for r in ev.join(dim, "user_id").groupBy("segment").count().collect()
    }
    repl = {
        r["segment"]: r["count"]
        for r in replicated_skew_join(ev, dim, "user_id", salt_buckets=16)
        .groupBy("segment")
        .count()
        .collect()
    }
    assert plain == repl


def test_registered_ann_query_loads_persistent_index(spark, tmp_path, monkeypatch):
    """The registered PQ query path must be build-once/query-many: the
    first call fits and persists the index, the second call LOADS it
    (no rebuild — the index files stay untouched), and a fingerprint
    mismatch (source data changed, e.g. regenerated testdata) forces a
    rebuild rather than serving a stale index."""
    import json as _json
    import os as _os

    from python_cdc_spark.queries import llm_similarity as sim

    monkeypatch.setenv("SPARK_GRAFT_ANN_DIR", str(tmp_path / "ann"))
    sf = "/root/testdata/sf0.01"

    cold = sim.pq_topk_fast(spark, sf).collect()
    d = sim._index_dir(sf, "pq", exact=False)
    meta_path = _os.path.join(d, "_meta.json")
    assert _os.path.exists(meta_path)
    built_at = _os.stat(meta_path).st_mtime_ns

    warm = sim.pq_topk_fast(spark, sf).collect()
    assert sorted(map(tuple, cold)) == sorted(map(tuple, warm))
    assert _os.stat(meta_path).st_mtime_ns == built_at, "index was rebuilt on warm call"

    # stale fingerprint → must rebuild, not load
    with open(meta_path) as f:
        meta = _json.load(f)
    meta["fingerprint"] = "stale"
    with open(meta_path, "w") as f:
        _json.dump(meta, f)
    rebuilt = sim.pq_topk_fast(spark, sf).collect()
    assert sorted(map(tuple, cold)) == sorted(map(tuple, rebuilt))
    with open(meta_path) as f:
        assert _json.load(f)["fingerprint"] != "stale", "stale index was not rebuilt"


def test_save_ivfpq_index_rejects_multi_assign(spark, tmp_path):
    """Readers rebuild codes from the cells table without a distinct —
    legal only under the one-cell-per-vector invariant, so save must
    reject a multi-assigned inverted list."""
    import pytest as _pytest

    from python_cdc_spark.operators.ann_index import save_ivfpq_index

    cent = spark.createDataFrame([(0, [0.0]), (1, [1.0])], "cell int, cvec array<double>")
    book = spark.createDataFrame([(0, 0, [0.0])], "sub int, cell int, cvec array<double>")
    codes = spark.createDataFrame([(1, 0, 3)], "vec_id long, sub int, code int")
    multi = spark.createDataFrame([(1, 0), (1, 1)], "neighbor_id long, cell int")
    with _pytest.raises(ValueError, match="n_best=1"):
        save_ivfpq_index(str(tmp_path / "bad"), cent, multi, codes, book)


def test_pagerank_mass_and_ordering(spark):
    """Symmetric graph ⇒ no dangling mass: total PR ≈ 1; a star center
    must outrank its leaves."""
    from python_cdc_spark.operators.components import pagerank

    edges = spark.createDataFrame([(0, i) for i in range(1, 6)], ["s", "d"])
    pr = {r["v"]: r["pr"] for r in pagerank(edges, "s", "d", iters=10).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-6
    assert pr[0] > max(pr[i] for i in range(1, 6))
    # empty graph: empty result, not a division by zero — and the empty
    # schema must track the vertex id type (string doc ids included)
    empty = spark.createDataFrame([], "s long, d long")
    assert pagerank(empty, "s", "d").count() == 0
    empty_str = spark.createDataFrame([], "s string, d string")
    out = pagerank(empty_str, "s", "d")
    assert out.count() == 0
    assert dict(out.dtypes)["v"] == "string"


def test_table_normalizes_ntz_timestamps(spark, tmp_path):
    """The driver's generator has shipped events.ts as TIMESTAMP(NANOS),
    timestamp[us] with tz, and plain timestamp[us] (no tz → Spark 4
    infers TIMESTAMP_NTZ, which unix_micros rejects). table() must
    normalize every flavor to session-UTC TIMESTAMP."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from python_cdc_spark.io import table as _table

    sf = str(tmp_path)
    t = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [datetime(2024, 1, 1, 0, 0, 0), datetime(2024, 1, 1, 0, 30, 1)],
                pa.timestamp("us"),  # no timezone → NTZ inference
            ),
        }
    )
    pq.write_table(t, f"{sf}/events.parquet")
    df = _table(spark, sf, "events")
    assert dict(df.dtypes)["ts"] == "timestamp", df.dtypes
    # instant semantics must work (this raised DATATYPE_MISMATCH on NTZ)
    micros = [r["m"] for r in df.select(F.unix_micros("ts").alias("m")).orderBy("event_id").collect()]
    assert micros[1] - micros[0] == 1_801_000_000


def test_gapfill_semantics(spark):
    """Gap-fill invariants beyond the oracle hash: dense contiguous
    spine per type, LOCF carries the latest observation, interior
    interpolation lands strictly between its brackets."""
    from python_cdc_spark.queries import QUERIES

    rows = (
        QUERIES["timeseries_gapfill_locf"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    )
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    assert len(by_type) == 5
    for t, rs in by_type.items():
        rs.sort(key=lambda r: r["bucket_ts"])
        # contiguous hourly spine
        for a, b in zip(rs, rs[1:]):
            assert (b["bucket_ts"] - a["bucket_ts"]).total_seconds() == 3600
        last_obs = None
        for r in rs:
            if r["is_gap"] == 0:
                assert r["n_events"] > 0 and r["sum_value"] is not None
                assert r["locf_value"] == r["sum_value"]
                assert r["interp_value"] == r["sum_value"]
                last_obs = r["sum_value"]
            else:
                assert r["n_events"] == 0 and r["sum_value"] is None
                assert r["locf_value"] == last_obs
                if r["interp_value"] is not None and last_obs is not None:
                    nxt = next(
                        (
                            x["sum_value"]
                            for x in rs
                            if x["bucket_ts"] > r["bucket_ts"] and x["is_gap"] == 0
                        ),
                        None,
                    )
                    assert nxt is not None
                    lo, hi = sorted((last_obs, nxt))
                    assert lo <= r["interp_value"] <= hi
    n_gaps = sum(1 for r in rows if r["is_gap"] == 1)
    assert n_gaps > 0, "sf0.01 events must leave some empty hourly buckets"


def test_duplicate_span_coverage_matches_bruteforce(spark):
    """Independent ground truth: recompute positional 8-gram coverage in
    plain Python over the whole sf0.01 corpus and compare every row —
    the md5-prefix hashing in the distributed path must not change the
    answer (no collisions at this scale), and planted near-dup docs
    must surface with full-span coverage."""
    import re
    from collections import Counter

    from python_cdc_spark.queries import QUERIES

    docs = table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    ).collect()
    grams: dict[int, list[str]] = {}
    gram_docs: dict[str, set] = {}
    for r in docs:
        toks = re.sub(r"\s+", " ", r["text"].lower()).strip().split(" ")
        gs = [" ".join(toks[i : i + 8]) for i in range(len(toks) - 7)]
        grams[r["doc_id"]] = gs
        for g in set(gs):
            gram_docs.setdefault(g, set()).add(r["doc_id"])
    expect = {}
    for did, gs in grams.items():
        dup = sum(1 for g in gs if len(gram_docs[g]) >= 2)
        expect[did] = (
            len(gs),
            dup,
            (dup * 1_000_000) // len(gs) if gs else None,
        )
    got = {
        r["doc_id"]: (r["n_spans"], r["dup_spans"], r["coverage_ppm"])
        for r in QUERIES["text_duplicate_span_coverage"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    assert got == expect
    c = Counter(1 for v in expect.values() if v[1] > 0)
    assert c[1] > 0, "corpus must contain cross-doc duplicated spans"
    assert any(v[2] == 1_000_000 for v in expect.values()), (
        "planted near-dups should fully saturate at least one doc"
    )


def test_semdedup_every_cluster_keeps_a_survivor(spark):
    """The lowest-id member of each cluster has no smaller-id mate, so
    every cluster retains at least one non-duplicate; and is_dup must
    exactly mirror max_sim_prev >= tau."""
    from python_cdc_spark.queries import QUERIES
    from python_cdc_spark.queries.llm_similarity import _SEM_TAU

    rows = (
        QUERIES["dedup_semantic_clusters"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    )
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
        if r["max_sim_prev"] is None:
            assert not r["is_dup"]
        else:
            assert r["is_dup"] == (r["max_sim_prev"] >= _SEM_TAU)
    for cell, rs in by_cell.items():
        keepers = [r for r in rs if not r["is_dup"]]
        assert keepers, f"cluster {cell} deduplicated away entirely"
        assert not min(rs, key=lambda r: r["vec_id"])["is_dup"]
    assert any(r["is_dup"] for r in rows), "corpus has planted near-dups"


def test_zorder_key_single_column_is_rank_monotonic(spark):
    """With one column the Morton key degenerates to the quantile rank:
    ordering by __zkey must order by the column (up to equal codes)."""
    from python_cdc_spark.io import zorder_key

    ev = table(spark, "/root/testdata/sf0.001", "events").select("event_id", "value")
    rows = zorder_key(ev, ["value"], bits=6).select("value", "__zkey").collect()
    rows.sort(key=lambda r: (r["__zkey"], r["value"]))
    for a, b in zip(rows, rows[1:]):
        if a["__zkey"] < b["__zkey"]:
            assert a["value"] <= b["value"]

    with pytest.raises(ValueError):
        zorder_key(ev, ["value"], bits=16)


def test_curate_cli_writes_survivor_corpus(spark, tmp_path):
    """`python -m python_cdc_spark curate` must materialize exactly the
    survivor set the registered manifest query counts, partitioned by
    split."""
    from python_cdc_spark.__main__ import main as cli_main
    from python_cdc_spark.queries import QUERIES

    out = str(tmp_path / "corpus")
    rc = cli_main(["curate", out, "--sf-dir", "/root/testdata/sf0.01"])
    assert rc == 0
    back = spark.read.parquet(out)
    manifest = {
        (r["split"], r["source"]): (r["n_docs"], r["total_tokens"])
        for r in QUERIES["corpus_curation_pipeline"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    got = {
        (r["split"], r["source"]): (r["n"], r["t"])
        for r in back.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_tok").cast("long").alias("t"),
        )
        .collect()
    }
    assert got == manifest
    assert set(back.columns) >= {"doc_id", "source", "lang", "text", "n_tok", "split"}


def test_incremental_dedup_matches_batch(spark, tmp_path):
    """Index-once/delta-update near-dup maintenance must produce
    byte-identical clusters to the one-shot batch run, across TWO delta
    folds, including base<->delta cluster merges."""
    from python_cdc_spark.operators.components import connected_components
    from python_cdc_spark.operators.incremental_dedup import (
        build_dedup_index,
        incremental_dedup_update,
        _band_stack,
        _delta_tables,
        _verify_pairs,
    )

    docs = table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )

    # batch ground truth over the full corpus with the module's params
    cells, bands, sizes = _delta_tables(docs, "text", "doc_id")
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    batch_pairs = _verify_pairs(cand, cells, sizes, 0.5).localCheckpoint(eager=True)
    pair_rows = batch_pairs.collect()
    assert pair_rows, "corpus must contain verified near-dup pairs"
    # choose a split boundary that at least one pair straddles, so the
    # update path must MERGE a base cluster with a delta doc
    mids = sorted({(r["id_a"] + r["id_b"]) // 2 for r in pair_rows})
    boundary = mids[len(mids) // 2] + 1
    straddling = [
        r for r in pair_rows if r["id_a"] < boundary <= r["id_b"]
    ]
    assert straddling, f"no pair straddles boundary {boundary}: {pair_rows[:5]}"
    batch_comp = {
        (r["v"], r["component"])
        for r in connected_components(batch_pairs, "id_a", "id_b").collect()
    }

    base = docs.filter(F.col("doc_id") < boundary)
    max_id = docs.agg(F.max("doc_id")).first()[0]
    half = boundary + (max_id + 1 - boundary) // 2  # two non-empty folds
    delta1 = docs.filter((F.col("doc_id") >= boundary) & (F.col("doc_id") < half))
    delta2 = docs.filter(F.col("doc_id") >= half)
    assert delta1.count() > 0 and delta2.count() > 0

    idx = str(tmp_path / "dedup_index")
    build_dedup_index(spark, base, idx)
    incremental_dedup_update(spark, idx, delta1)
    final = incremental_dedup_update(spark, idx, delta2)
    inc_comp = {(r["v"], r["component"]) for r in final.collect()}
    assert inc_comp == batch_comp


def test_ivfpq_index_append_matches_frozen_batch(spark, tmp_path):
    """Frozen-quantizer append: base-built index + appended delta must
    answer queries identically to a one-shot index built with the SAME
    centroids/codebook over all vectors."""
    from python_cdc_spark.operators.ann_index import (
        append_to_ivfpq_index,
        ivf_pq_topk_from_index,
        save_ivfpq_index,
    )
    from python_cdc_spark.operators.pq import pq_encode, pq_fit
    from python_cdc_spark.operators.similarity import kmeans_assign, kmeans_fit

    e = table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    )
    base = e.filter(F.col("vec_id") < 400)
    delta = e.filter(F.col("vec_id") >= 400)
    cent = kmeans_fit(base, "vec_id", "embedding", k=16, iters=2, exact=False)
    book = pq_fit(base, "vec_id", "embedding", m=4, dims=64, k=16, iters=1, exact=False)

    def build(docs, out):
        assigned = kmeans_assign(
            docs, cent, "vec_id", "embedding", exact=False
        ).select(F.col("vec_id").alias("neighbor_id"), "cell")
        codes = pq_encode(docs, book, "vec_id", "embedding", m=4, dims=64, exact=False)
        save_ivfpq_index(out, cent, assigned, codes, book, params={"t": 1})

    one_shot = str(tmp_path / "one_shot")
    build(e, one_shot)
    appended = str(tmp_path / "appended")
    build(base, appended)
    n = append_to_ivfpq_index(
        spark, appended, delta, kind="pq", m=4, dims=64, exact=False
    )
    assert n == delta.count()

    queries = e.filter(F.col("vec_id") % 100 == 0)
    kw = dict(k_top=5, nprobe=4, shortlist=64, m=4, dims=64, exact=False)
    r_one = sorted(
        map(tuple, ivf_pq_topk_from_index(spark, e, one_shot, queries, **kw).collect())
    )
    r_app = sorted(
        map(tuple, ivf_pq_topk_from_index(spark, e, appended, queries, **kw).collect())
    )
    assert r_one == r_app
    assert len(r_one) > 0

    # appending an existing id must be refused (double-count guard)
    with pytest.raises(ValueError):
        append_to_ivfpq_index(spark, appended, delta, kind="pq", m=4, dims=64)


def test_semdedup_recall_and_precision_vs_exact(spark):
    """SemDeDup quality economics, measured not assumed: within-cluster
    cosine is EXACT, so precision vs the all-pairs ground truth must be
    1.0; recall pays for the cluster pass (cross-cluster near-dup pairs
    are invisible by design — k trades recall against pair count).
    Measured 0.60 at k=64 over sf0.01's 500 near-uniform vectors
    (~8/cluster — aggressive); floored with margin."""
    import numpy as np

    from python_cdc_spark.queries import QUERIES

    rows = table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = V @ V.T
    smaller = ids[None, :] < ids[:, None]
    exact_dup = set(ids[((S >= 0.25) & smaller).any(axis=1)].tolist())
    got = {
        r["vec_id"]
        for r in QUERIES["dedup_semantic_clusters"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
        if r["is_dup"]
    }
    assert got <= exact_dup, "flagged a vector with no true near-dup mate"
    recall = len(got & exact_dup) / len(exact_dup)
    assert recall >= 0.5, f"semdedup recall collapsed: {recall:.3f}"


def test_linreg_suffstats_solve(spark):
    """The one-pass sufficient statistics must actually train a model:
    solve the normal equations and check the closed-form fit explains
    variance the mean baseline can't (R^2 materially > 0), at two sf
    dirs (statistics scale with data, the solve does not)."""
    import numpy as np

    from python_cdc_spark.queries import QUERIES
    from python_cdc_spark.queries.ml_queries import _FEATS

    for sf in ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]:
        stats = {
            r["stat"]: r["value"]
            for r in QUERIES["ml_linreg_suffstats"].fn(spark, sf).collect()
        }
        p = len(_FEATS)
        xtx = np.zeros((p, p))
        for i, fi in enumerate(_FEATS):
            for j, fj in enumerate(_FEATS):
                key = f"xtx:{fi}:{fj}" if j >= i else f"xtx:{fj}:{fi}"
                xtx[i, j] = stats[key]
        xty = np.array([stats[f"xty:{f}"] for f in _FEATS])
        beta = np.linalg.solve(xtx, xty)
        # R^2 from the same statistics: SSE = y'y - 2 b'X'y + b'X'X b
        sse = stats["yty"] - 2 * beta @ xty + beta @ xtx @ beta
        sst = stats["yty"] - stats["sy"] ** 2 / stats["n"]
        r2 = 1 - sse / sst
        assert 0.2 < r2 <= 1.0 + 1e-9, f"{sf}: R^2 {r2}"


def test_pii_redaction_fixture(spark):
    """The synthetic corpus is PII-free, so the registered query's live
    counts are all zero; this fixture pins the non-trivial path on both
    engines' regex dialects."""
    import duckdb

    from python_cdc_spark.queries.llm_text import (
        _PII_EMAIL,
        _PII_PHONE,
    )

    rows = [
        (1, "contact me a.b+c@ex-ample.co.uk or 555-123-4567 x2"),
        (2, "no pii here"),
        (3, "two mails x@y.io z@w.ai and +1 (212) 555-0199"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            F.size(
                F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0))
            ).alias("ne"),
            F.size(
                F.regexp_extract_all("text", F.lit(_PII_PHONE), F.lit(0))
            ).alias("np"),
            F.regexp_replace(
                F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
                _PII_PHONE,
                "<PHONE>",
            ).alias("red"),
        ).collect()
    }
    assert (out[1]["ne"], out[1]["np"]) == (1, 1)
    assert out[1]["red"] == "contact me <EMAIL> or <PHONE> x2"
    assert (out[2]["ne"], out[2]["np"]) == (0, 0)
    assert (out[3]["ne"], out[3]["np"]) == (2, 1)
    assert out[3]["red"] == "two mails <EMAIL> <EMAIL> and <PHONE>"

    # cross-dialect: DuckDB's RE2 must agree on the same strings
    con = duckdb.connect()
    for doc_id, text in rows:
        got = con.execute(
            "SELECT len(regexp_extract_all(?, ?)), "
            "len(regexp_extract_all(?, ?)), "
            "regexp_replace(regexp_replace(?, ?, '<EMAIL>', 'g'), "
            "?, '<PHONE>', 'g')",
            [text, _PII_EMAIL, text, _PII_PHONE, text, _PII_EMAIL, _PII_PHONE],
        ).fetchone()
        assert got == (out[doc_id]["ne"], out[doc_id]["np"], out[doc_id]["red"])


def test_ann_append_drift_guard_triggers_refit(spark, tmp_path):
    """The appended-fraction counters must track base/appended rows and
    flip needs_refit past the threshold; a rebuild (re-save with fresh
    quantizers) must reset them — the re-fit trigger for the frozen-
    quantizer append path."""
    from python_cdc_spark.operators.ann_index import (
        append_to_ivfpq_index,
        appended_fraction,
        needs_refit,
        save_ivfpq_index,
    )
    from python_cdc_spark.operators.pq import pq_encode, pq_fit
    from python_cdc_spark.operators.similarity import kmeans_assign, kmeans_fit

    e = table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    )
    base = e.filter(F.col("vec_id") < 300)
    cent = kmeans_fit(base, "vec_id", "embedding", k=8, iters=1, exact=False)
    book = pq_fit(base, "vec_id", "embedding", m=4, dims=64, k=16, iters=1, exact=False)

    def build(docs, out):
        assigned = kmeans_assign(
            docs, cent, "vec_id", "embedding", exact=False
        ).select(F.col("vec_id").alias("neighbor_id"), "cell")
        codes = pq_encode(docs, book, "vec_id", "embedding", m=4, dims=64, exact=False)
        save_ivfpq_index(out, cent, assigned, codes, book, params={"t": 1})

    d = str(tmp_path / "idx")
    build(base, d)
    assert appended_fraction(d) == 0.0 and not needs_refit(d)

    n_base = base.count()
    append_to_ivfpq_index(
        spark, d, e.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
        kind="pq", m=4, dims=64, exact=False,
    )
    frac1 = appended_fraction(d)
    assert frac1 > 0 and not needs_refit(d, threshold=0.5)
    # the measured-curve default (0.3, SCALE.md §Similarity) trips
    # already at ~1/3 appended — where the frozen-vs-refit recall gap
    # is opening, not after it has opened
    assert frac1 > 0.3 and needs_refit(d)

    append_to_ivfpq_index(
        spark, d, e.filter(F.col("vec_id") >= 400),
        kind="pq", m=4, dims=64, exact=False,
    )
    frac2 = appended_fraction(d)
    assert frac2 > frac1
    assert needs_refit(d, threshold=0.5)  # stale-heavy: must re-fit

    # the rebuild resets the counters — fresh quantizers, fresh base
    build(e, d)
    assert appended_fraction(d) == 0.0 and not needs_refit(d)


def test_myers_levenshtein_matches_jvm(spark):
    """The bit-parallel Myers kernel must return EXACTLY the JVM
    levenshtein distance on arbitrary strings (the strict-hash oracle
    gate depends on integer-identical distances), including empties,
    unicode, and nulls; and it must stay marked non-deterministic so a
    filter on its output cannot be duplicated below a repartition
    (measured double-evaluation cost: +50 s at sf1)."""
    import random

    from pyspark.sql import functions as F

    from python_cdc_spark.functions.text import myers_levenshtein_udf

    random.seed(42)
    alpha = "abcdef éüλ"
    rows = [("", ""), ("", "abc"), ("abc", ""), (None, "x"), ("same", "same")]
    rows += [
        (
            "".join(random.choices(alpha, k=random.randint(0, 120))),
            "".join(random.choices(alpha, k=random.randint(0, 120))),
        )
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    lev = myers_levenshtein_udf()
    got = df.select(
        lev("a", "b").alias("m"),
        F.levenshtein(F.coalesce("a", F.lit("")), F.coalesce("b", F.lit("")))
        .cast("long")
        .alias("j"),
    ).collect()
    assert all(r["m"] == r["j"] for r in got)
    assert not lev.deterministic


def test_pca_fit_matches_full_data_numpy(spark):
    """The one-pass partitioned suffstats fit must equal numpy's
    full-data PCA (sign-canonicalized) — partition splits change only
    the float accumulation order, never the result beyond ulps."""
    import numpy as np

    from python_cdc_spark.io import table
    from python_cdc_spark.operators.pca import (
        pca_fit,
        pca_transform,
        reconstruction_error,
    )

    emb = table(spark, "/root/testdata/sf0.001", "embeddings").repartition(7)
    model = pca_fit(emb, "embedding", k=8, dims=64)

    x = np.stack([np.asarray(r["embedding"]) for r in emb.collect()]).astype(
        np.float64
    )
    mean = x.mean(axis=0)
    cov = (x - mean).T @ (x - mean) / len(x)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:8]
    ref = evecs[:, order].T
    for i in range(8):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]

    assert model["n"] == len(x)
    assert np.allclose(model["mean"], mean, atol=1e-9)
    assert np.allclose(model["explained_variance"], evals[order], atol=1e-9)
    assert np.allclose(model["components"], ref, atol=1e-7)

    w = np.asarray(model["components"])
    # orthonormal rows, descending eigenvalues
    assert np.allclose(w @ w.T, np.eye(8), atol=1e-9)
    ev = model["explained_variance"]
    assert all(a >= b - 1e-12 for a, b in zip(ev, ev[1:]))

    # projection matches (x - mean) @ W.T; whitening gives unit variance
    proj = pca_transform(emb, model, out_col="p").select("p").collect()
    got = np.stack([np.asarray(r["p"]) for r in proj])
    want = (x - mean) @ w.T
    assert np.allclose(np.sort(got, axis=0), np.sort(want, axis=0), atol=1e-9)
    white = pca_transform(emb, model, out_col="p", whiten=True).select("p")
    xw = np.stack([np.asarray(r["p"]) for r in white.collect()])
    assert np.allclose(xw.var(axis=0), 1.0, atol=1e-6)

    # reconstruction error: zero at k=d, equals the dropped-eigenvalue
    # sum at k=8, and decreases with k
    full = pca_fit(emb, "embedding", k=64, dims=64)
    assert reconstruction_error(emb, full) < 1e-18
    err8 = reconstruction_error(emb, model)
    assert abs(err8 - (sum(evals) - sum(evals[order]))) < 1e-9
    err4 = reconstruction_error(emb, pca_fit(emb, "embedding", k=4, dims=64))
    assert err4 > err8


def test_pca_transform_and_error_pass_null_vectors(spark):
    """Fit-path parity for nulls: suffstats filters isNotNull, so
    transform must pass a null embedding through as null output (not
    die in np.stack mid-executor) and reconstruction_error must skip
    it — a corpus with a few null embeddings is the normal case, not
    the exception."""
    import numpy as np

    from python_cdc_spark.io import table
    from python_cdc_spark.operators.pca import (
        pca_fit,
        pca_transform,
        reconstruction_error,
    )

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    model = pca_fit(emb, "embedding", k=4, dims=64)
    err_clean = reconstruction_error(emb, model)

    with_null = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 10 == 0, F.lit(None)).otherwise(F.col("embedding")),
    )
    rows = (
        pca_transform(with_null, model, out_col="p")
        .select("vec_id", "p")
        .collect()
    )
    assert any(r["p"] is None for r in rows)
    for r in rows:
        if r["vec_id"] % 10 == 0:
            assert r["p"] is None
        else:
            assert r["p"] is not None and len(r["p"]) == 4
            assert np.isfinite(np.asarray(r["p"])).all()
    # error over the null-bearing frame is computed over non-null rows
    # only — finite, and in the same regime as the clean-frame error
    err_nulls = reconstruction_error(with_null, model)
    assert np.isfinite(err_nulls) and err_nulls > 0
    assert abs(err_nulls - err_clean) / err_clean < 0.5


def test_bpe_learn_merges_greedy_semantics(spark):
    """Pins the BPE merge loop's exact semantics on a hand-computed
    vocabulary: (a) pair counts weight by word frequency and count
    every adjacent position, (b) the argmax tie-breaks on (lhs, rhs)
    ascending, (c) the merge applies LEFT-TO-RIGHT NON-OVERLAPPING —
    'aaaa' merges to [aa, aa] and 'aaa' to [aa, a], the island-parity
    case the DuckDB oracle replays with window functions."""
    from python_cdc_spark.operators.bpe import learn_bpe_merges

    words = spark.createDataFrame(
        [("aaaa", 2), ("aaa", 1), ("ab", 10), ("ba", 10)],
        "word string, freq long",
    )
    got = learn_bpe_merges(words, 3)
    # round 1: (a,a)=2*3+1*2=8, (a,b)=10, (b,a)=10 -> tie 10, lex: (a,b)
    assert got[0] == (1, "a", "b", "ab", 10)
    # round 2: 'ab' is now one symbol; (b,a)=10, (a,a)=8 -> (b,a)
    assert got[1] == (2, "b", "a", "ba", 10)
    # round 3: (a,a)=8 wins; 'aaaa' contributes positions 1,2,3 -> after
    # the non-overlapping merge the state must be [aa,aa] and [aa,a]
    assert got[2] == (3, "a", "a", "aa", 8)
    # a 4th round would see (aa,aa)=2 from 'aaaa' and (aa,a)=1 from 'aaa'
    got4 = learn_bpe_merges(words, 4)
    assert got4[3] == (4, "aa", "aa", "aaaa", 2)
    # exhaustion: single-symbol-only vocab stops early, no raise
    tiny = spark.createDataFrame([("ab", 1)], "word string, freq long")
    assert len(learn_bpe_merges(tiny, 5)) == 1


def test_ann_cdc_fold_touches_only_affected_cells(spark, tmp_path, monkeypatch):
    """Pin the O(touched) contract of maintain_ivf_lists_cdc: a surgical
    3-op delta (one insert, one update, one delete) rewrites only the
    affected cell directories — every untouched cell dir keeps its exact
    file set with unchanged mtimes — evicts the deleted/updated ids,
    places the new row images, and advances the drift counters. The
    dynamic overwrite is a per-write option: the fold never sets the
    session-wide mode, which would change any overwrite another thread
    runs in the same session meanwhile."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.conf import RuntimeConfig

    from python_cdc_spark.io import table
    from python_cdc_spark.operators.ann_index import (
        appended_fraction,
        build_ivf_lists,
        maintain_ivf_lists_cdc,
    )
    from python_cdc_spark.queries.llm_similarity import (
        _DIMS,
        _fitted_cdc_base_centroids,
    )

    sf = "/root/testdata/sf0.001"
    e = table(spark, sf, "embeddings").select("vec_id", "embedding")
    base = e.filter(F.col("vec_id") % 10 != 0)
    cent = _fitted_cdc_base_centroids(spark, sf)
    payload = {"head_val": F.col("embedding")[0].cast("double")}
    idx_dir = str(tmp_path / "idx")
    build_ivf_lists(spark, idx_dir, base, cent, payload=payload,
                    fingerprint="t", params={}, exact=True, dims=_DIMS)
    cells_path = os.path.join(idx_dir, "cells.parquet")

    def snapshot():
        snap = {}
        for d in os.listdir(cells_path):
            if not d.startswith("cell="):
                continue
            p = os.path.join(cells_path, d)
            snap[d] = sorted(
                (f, os.stat(os.path.join(p, f)).st_mtime_ns)
                for f in os.listdir(p) if f.endswith(".parquet")
            )
        return snap

    before_rows = {
        int(r["neighbor_id"]): (int(r["cell"]), float(r["head_val"]))
        for r in spark.read.parquet(cells_path).collect()
    }
    before = snapshot()

    ins_id = 10   # % 10 == 0: held out of base
    upd_id = 17   # % 10 == 7: in base
    del_id = 13   # % 10 == 3: in base
    assert upd_id in before_rows and del_id in before_rows
    assert ins_id not in before_rows
    delta = (
        e.filter(F.col("vec_id") == ins_id)
        .select(F.lit("I").alias("op"), "vec_id", "embedding")
        .unionByName(
            e.filter(F.col("vec_id") == upd_id).select(
                F.lit("U").alias("op"), "vec_id",
                F.reverse("embedding").alias("embedding"))
        )
        .unionByName(
            e.filter(F.col("vec_id") == del_id).select(
                F.lit("D").alias("op"), "vec_id", "embedding")
        )
    )
    conf_keys_set = []
    real_set = RuntimeConfig.set

    def spy_set(self, key, value):
        conf_keys_set.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    stats = maintain_ivf_lists_cdc(spark, idx_dir, delta, payload=payload,
                                   exact=True, dims=_DIMS)
    monkeypatch.undo()
    assert "spark.sql.sources.partitionOverwriteMode" not in conf_keys_set
    # a 3-op delta touches at most 4 cells (ins + upd old/new + del)
    assert 1 <= stats["touched_cells"] <= 4
    assert stats["touched_cells"] < stats["total_cells"]
    assert stats["n_upserts"] == 2 and stats["n_victims"] == 2

    after = snapshot()
    after_rows = {
        int(r["neighbor_id"]): (int(r["cell"]), float(r["head_val"]))
        for r in spark.read.parquet(cells_path).collect()
    }
    # contents: delete gone, insert present, update re-imaged
    assert del_id not in after_rows
    assert ins_id in after_rows
    assert after_rows[upd_id][1] != before_rows[upd_id][1]  # row image replaced
    untouched_ids = set(before_rows) - {upd_id, del_id}
    assert {i: after_rows[i] for i in untouched_ids} == {
        i: before_rows[i] for i in untouched_ids
    }
    # files: every cell dir NOT in the touched set is byte-stable
    touched_dirs = {
        d for d in set(before) | set(after) if before.get(d) != after.get(d)
    }
    assert len(touched_dirs) <= stats["touched_cells"]
    for d in set(before) - touched_dirs:
        assert before[d] == after[d]
    # drift counters advanced by the upsert count
    assert appended_fraction(idx_dir) > 0


def test_ann_cdc_fold_removes_emptied_cell(spark, tmp_path):
    """A delta that deletes EVERY member of a cell must remove the cell
    directory — a dynamic-overwrite write can't emit an empty partition,
    so the fold has to reap it explicitly or readers resurrect the
    pre-fold rows."""
    import os

    from pyspark.sql import functions as F

    from python_cdc_spark.io import table
    from python_cdc_spark.operators.ann_index import (
        build_ivf_lists,
        maintain_ivf_lists_cdc,
    )
    from python_cdc_spark.queries.llm_similarity import (
        _DIMS,
        _fitted_cdc_base_centroids,
    )

    sf = "/root/testdata/sf0.001"
    e = table(spark, sf, "embeddings").select("vec_id", "embedding")
    base = e.filter(F.col("vec_id") % 10 != 0)
    cent = _fitted_cdc_base_centroids(spark, sf)
    idx_dir = str(tmp_path / "idx")
    build_ivf_lists(spark, idx_dir, base, cent, payload=None,
                    fingerprint="t", params={}, exact=True, dims=_DIMS)
    cells_path = os.path.join(idx_dir, "cells.parquet")
    lists = spark.read.parquet(cells_path)
    # pick the smallest populated cell and delete all of its members
    victim_cell = (
        lists.groupBy("cell").count().orderBy("count", "cell").first()["cell"]
    )
    victim_ids = [
        int(r["neighbor_id"])
        for r in lists.filter(F.col("cell") == victim_cell).collect()
    ]
    n_before = lists.count()
    delta = e.filter(F.col("vec_id").isin(victim_ids)).select(
        F.lit("D").alias("op"), "vec_id", "embedding"
    )
    maintain_ivf_lists_cdc(spark, idx_dir, delta, payload=None,
                           exact=True, dims=_DIMS)
    assert not os.path.exists(os.path.join(cells_path, f"cell={victim_cell}"))
    survivors = spark.read.parquet(cells_path)
    assert survivors.filter(F.col("neighbor_id").isin(victim_ids)).count() == 0
    assert survivors.count() == n_before - len(victim_ids)


def test_ivf_persisted_index_matches_inmemory_assignment(spark):
    """r13: the plain-IVF query loads persisted cell-partitioned
    inverted lists (fit-on-miss, like its PQ/RQ/IVF-PQ/IVF-RQ siblings)
    instead of re-assigning the corpus per invocation. The persisted
    path must return exactly the rows of the in-memory path (same
    centroids, same assignment, same probe + re-rank)."""
    from python_cdc_spark.operators.similarity import kmeans_assign
    from python_cdc_spark.queries.llm_similarity import (
        _fitted_centroids,
        _ivf_topk,
    )

    sf = "/root/testdata/sf0.001"
    e = table(spark, sf, "embeddings")
    cent = _fitted_centroids(spark, sf, exact=False)
    assigned = kmeans_assign(e, cent, "vec_id", "embedding", exact=False).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    inmem = sorted(
        map(tuple, _ivf_topk(spark, sf, exact=False, assigned=assigned).collect())
    )
    persisted = sorted(map(tuple, _ivf_topk(spark, sf, exact=False).collect()))
    assert persisted == inmem and len(persisted) > 0
