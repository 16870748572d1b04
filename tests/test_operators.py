"""Unit tests for engine operators on tiny literal DataFrames."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from etl_geotab_spark.operators.dedup import (
    dedup_exact,
    dedup_latest,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from etl_geotab_spark.operators.asof import asof_join, range_join
from etl_geotab_spark.operators.similarity import (
    cosine_topk_bruteforce,
    embedding_near_dup_pairs,
    lsh_bucketed_ann,
)
from etl_geotab_spark.operators.topk import top_k_global, top_k_per_group


def ts(s):
    return dt.datetime.fromisoformat(s)


def test_dedup_latest_keeps_max_order_col(spark):
    df = spark.createDataFrame(
        [("a", ts("2024-01-01T00:00:00"), 1), ("a", ts("2024-01-02T00:00:00"), 2), ("b", ts("2024-01-01T00:00:00"), 3)],
        "k string, t timestamp, v int",
    )
    out = {r.k: r.v for r in dedup_latest(df, ["k"], "t").collect()}
    assert out == {"a": 2, "b": 3}


def test_dedup_latest_tiebreak(spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 20)], "k string, t int, v int"
    )
    out = dedup_latest(df, ["k"], "t", tiebreak_cols=["v"]).collect()
    assert out[0].v == 20


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "id long, text string"
    )
    out = sorted(r.id for r in dedup_exact(df, "text", "id").collect())
    assert out == [1, 3]


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("today", "tonight")
    far = "completely different words describing unrelated matters entirely elsewhere"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], "doc_id long, text string"
    )
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(df, "text", "doc_id", jaccard_threshold=0.5).collect()}
    assert (1, 4) in pairs  # exact dup
    assert (1, 2) in pairs or (2, 4) in pairs  # near dup
    assert all(3 not in p for p in pairs)


def test_simhash_near_dup(spark):
    # A 1-token edit on an n-token doc flips ≈ 32·sqrt(2/(πn)) bits, so
    # use a 24-token doc and a hamming budget that separates near (≈5)
    # from unrelated (≈32).
    base = " ".join(f"tok{i}" for i in range(24))
    near = base + " extra"
    far = " ".join(f"other{i}" for i in range(24))
    df = spark.createDataFrame([(1, base), (2, near), (3, far), (4, base)], "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(df, "text", "doc_id", max_hamming=12, num_blocks=16).collect()
    }
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_pairs(spark):
    a = "w1 w2 w3 w4 w5 w6"
    b = "w1 w2 w3 w4 w5 zz"
    c = "q1 q2 q3 q4 q5 q6"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    out = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(df, "text", "doc_id", n=2, threshold=0.3).collect()}
    assert (1, 2) in out
    assert 0.5 < out[(1, 2)] < 0.7  # 4 shared of 6 union ≈ 0.667... exact: grams a={w1w2..w5w6}5, b 5, shared 4, union 6 → 0.667
    assert (1, 3) not in out


def test_ngram_jaccard_doc_freq_cut(spark):
    """max_doc_freq drops n-grams hotter than the cap BEFORE the
    self-join: a stop-phrase shared by every doc stops generating
    candidate pairs, while rare-gram similarity is unaffected."""
    stop = "the quick fox"  # appears in ALL docs → DF = 4
    rows = [
        (1, stop + " alpha beta gamma"),
        (2, stop + " alpha beta delta"),
        (3, stop + " zz qq ww"),
        (4, stop + " rr ss tt"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap below the corpus size: the stop-phrase grams (DF=4) vanish
    cut = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", n=2, threshold=0.1, max_doc_freq=3
        ).collect()
    }
    # docs 3 and 4 only shared stop-phrase grams → no pair at all
    assert (3, 4) not in cut
    assert all(3 not in p and 4 not in p for p in cut)
    # docs 1/2 still pair on their rare 'alpha beta' grams
    assert (1, 2) in cut
    # with the cap above DF the cut is a no-op vs the exact result
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", n=2, threshold=0.1, max_doc_freq=100
        ).collect()
    }
    plain = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", n=2, threshold=0.1
        ).collect()
    }
    assert exact == plain


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, "k", ts("2024-01-05T00:00:00")), (2, "k", ts("2024-01-01T00:00:00"))],
        "lid long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [("k", ts("2024-01-02T00:00:00"), "early"), ("k", ts("2024-01-04T00:00:00"), "late")],
        "k string, rt timestamp, tag string",
    )
    out = {r.lid: r.r_tag for r in asof_join(left, right, "k", "k", "t", "rt").collect()}
    assert out == {1: "late", 2: None}


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame([(1, "k", ts("2024-01-05T00:00:00"))], "lid long, k string, t timestamp")
    right = spark.createDataFrame([("k", ts("2024-01-01T00:00:00"), "old")], "k string, rt timestamp, tag string")
    out = asof_join(left, right, "k", "k", "t", "rt", tolerance="1 DAY").collect()
    assert out[0].r_tag is None


def test_asof_join_null_ts_right_row_never_matches(spark):
    # round-4 ADVICE: a right row with NULL rt must never match in any
    # direction (pandas.merge_asof drops NaT right rows) — previously
    # it could win as the only backward candidate when no tolerance
    # was set (its payload struct was non-null despite the null ts).
    left = spark.createDataFrame(
        [(1, "k", ts("2024-01-05T00:00:00"))],
        "lid long, k string, t timestamp",
    )
    right_nullts = spark.createDataFrame(
        [("k", None, "ghost")], "k string, rt timestamp, tag string"
    )
    for direction in ("backward", "forward", "nearest"):
        out = asof_join(
            left, right_nullts, "k", "k", "t", "rt", direction=direction
        ).collect()
        assert out[0].r_tag is None, direction
    # and a null-ts row must not shadow/displace a real candidate
    right_mixed = spark.createDataFrame(
        [("k", None, "ghost"), ("k", ts("2024-01-02T00:00:00"), "real")],
        "k string, rt timestamp, tag string",
    )
    for direction in ("backward", "nearest"):
        out = asof_join(
            left, right_mixed, "k", "k", "t", "rt", direction=direction
        ).collect()
        assert out[0].r_tag == "real", direction


def test_range_join(spark):
    points = spark.createDataFrame(
        [(1, ts("2024-01-01T05:30:00")), (2, ts("2024-01-01T09:00:00"))], "pid long, t timestamp"
    )
    intervals = spark.createDataFrame(
        [("w1", ts("2024-01-01T05:00:00"), ts("2024-01-01T06:00:00"))],
        "wid string, t_start timestamp, t_end timestamp",
    )
    out = range_join(points, intervals, "t", "t_start", "t_end").collect()
    assert [r.pid for r in out] == [1]


def test_topk(spark):
    df = spark.createDataFrame([(i, i % 2, float(i)) for i in range(10)], "id long, g int, v double")
    top = top_k_global(df, [F.desc("v")], 3).collect()
    assert [r.id for r in top] == [9, 8, 7]
    per = top_k_per_group(df, ["g"], [F.desc("v")], 2)
    got = {(r.g, r.id) for r in per.collect()}
    assert got == {(0, 8), (0, 6), (1, 9), (1, 7)}


def test_cosine_topk_bruteforce(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk_bruteforce(df, df.where(F.col("vec_id") == 1), k=2)
    got = [(r.neighbor_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got == [(2, 1), (3, 2)]


def test_cosine_topk_blas_matches_expression_tier(spark, sf_dir):
    """The BLAS tier (mapInPandas matmul + local top-k) must return the
    SAME neighbor sets as the expression tier on real fixture data —
    the two-tier contract in cosine_topk_blas's docstring. Sims are
    compared to 1e-9 (ulp-level summation-order drift allowed)."""
    from etl_geotab_spark.io import load_table
    from etl_geotab_spark.operators.similarity import cosine_topk_blas

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    exact = cosine_topk_bruteforce(emb, queries, k=5).collect()
    blas = cosine_topk_blas(emb, queries, k=5).collect()
    # r16 §26b: {} == {} below would pass vacuously on an empty read —
    # pin the comparison volume (8 query vecs x k=5 each).
    assert len(exact) == 8 * 5, len(exact)

    def by_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    assert by_query(exact) == by_query(blas)
    sims_e = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact}
    for r in blas:
        assert abs(sims_e[(r.query_id, r.neighbor_id)] - r.cosine_sim) < 1e-9


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    """Self-consistency: LSH top-k must overlap well with exact top-k."""
    from etl_geotab_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, queries, k=5).collect()
    approx = lsh_bucketed_ann(emb, queries, k=5, num_planes=16, bands=8).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert len(exact_sets) == 5  # r16 §26b: the vec_id<5 query sample
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5  # banded LSH, generous margin


def test_embedding_near_dup_self_consistency(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup_pairs(df, threshold=0.99, num_planes=8, bands=8, dim=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


# ---------------------------------------------- range join / skew / UDTF


def test_range_self_join_matches_naive(spark):
    from etl_geotab_spark.operators.rangejoin import range_self_join_pairs
    import datetime as dt

    rows = [
        (1, 10, dt.datetime(2024, 1, 1, 10, 0, 0)),
        (1, 11, dt.datetime(2024, 1, 1, 10, 1, 30)),
        (1, 12, dt.datetime(2024, 1, 1, 10, 30, 0)),
        (2, 20, dt.datetime(2024, 1, 1, 10, 0, 30)),
        (2, 21, dt.datetime(2024, 1, 1, 10, 2, 29)),
        (2, 22, dt.datetime(2024, 1, 1, 10, 2, 31)),
    ]
    df = spark.createDataFrame(rows, "k long, id long, ts timestamp")
    got = {
        (r.k, r.id_a, r.id_b)
        for r in range_self_join_pairs(df, "k", "ts", "id", 120_000_000).collect()
    }
    # naive O(n^2) truth
    want = {
        (a[0], a[1], b[1])
        for a in rows
        for b in rows
        if a[0] == b[0]
        and a[1] < b[1]
        and abs((b[2] - a[2]).total_seconds()) <= 120
    }
    assert got == want
    assert (2, 20, 22) not in got  # 151s apart > 2min


def test_salted_join_equals_plain_join(spark):
    from etl_geotab_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(k, i) for k in ("hot", "cold") for i in range(50 if k == "hot" else 2)],
        "k string, row_id int",
    )
    dim = spark.createDataFrame([("hot", 1), ("cold", 2)], "k string, v int")
    got = salted_join(
        fact, dim, fact.k, dim.k, salt_cols=["row_id"], num_salts=4
    ).select("row_id", "v")
    want = fact.join(dim, on="k").select("row_id", "v")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_chunk_udtf_windows(spark):
    from etl_geotab_spark.functions.chunking import register_chunk_udtf

    register_chunk_udtf(spark)
    spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10)))], "id long, text string"
    ).createOrReplaceTempView("_chunk_test")
    rows = spark.sql(
        "SELECT c.* FROM _chunk_test, LATERAL chunk_document(text, 4, 2) c"
    ).collect()
    chunks = {r.chunk_idx: (r.chunk_text, r.n_tokens) for r in rows}
    assert chunks[0] == ("t0 t1 t2 t3", 4)
    assert chunks[1] == ("t2 t3 t4 t5", 4)  # 50% overlap
    assert chunks[4] == ("t8 t9", 2)  # tail chunk is short
    assert len(chunks) == 5


def test_connected_components_chain_and_islands(spark):
    from etl_geotab_spark.operators.clusters import (
        connected_components,
        dedup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    comps = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]],
        "doc_id long, text string",
    )
    out = dedup_clusters(docs, pairs, "doc_id").collect()
    canon = sorted(r.doc_id for r in out if r.is_canonical)
    assert canon == [1, 10, 20, 99]  # 99 = untouched singleton
    assert all(
        r.component == (1 if r.doc_id <= 4 else r.doc_id if r.doc_id == 99
                        else 10 if r.doc_id in (10, 11) else 20)
        for r in out
    )


# ------------------------------------------------------ storage layout


def test_partitioned_write_prunes(spark, tmp_path):
    import contextlib
    import io as _io

    from etl_geotab_spark.io import load_table, write_partitioned

    path = str(tmp_path / "orders_part")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    write_partitioned(orders, path, ["o_orderstatus"])
    back = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert back.count() == orders.where(F.col("o_orderstatus") == "F").count()


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    import contextlib
    import io as _io

    from etl_geotab_spark.io import load_table, write_bucketed

    sf = "/root/testdata/sf0.001"
    write_bucketed(
        load_table(spark, sf, "orders"), "b_orders", "o_orderkey", 8
    )
    write_bucketed(
        load_table(spark, sf, "lineitem"), "b_lineitem", "l_orderkey", 8
    )
    j = spark.table("b_lineitem").join(
        spark.table("b_orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    # disable broadcast so the bucketed layout is what saves the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan, "bucketed join should not shuffle"
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_ivf_topk_recall(spark):
    from etl_geotab_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
    )

    from etl_geotab_spark.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = cosine_topk_bruteforce(emb, queries, k=5).collect()
    approx = ivf_topk(emb, queries, k=5, num_centroids=8, n_probe=4).collect()
    # r16 §26b: pin the probe volume (vec_id % 100 == 0 over 500
    # fixture vectors -> 5 queries) before the recall ratio.
    assert len({r.query_id for r in exact}) == 5
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # sims are true cosines: every reported pair must match exact's value
    exact_sims = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_sims:
            assert abs(r.cosine_sim - exact_sims[(r.query_id, r.neighbor_id)]) < 1e-9


def test_csv_json_roundtrip(spark, tmp_path):
    from etl_geotab_spark.io import load_table, read_csv, read_json

    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    csv_path, json_path = str(tmp_path / "n_csv"), str(tmp_path / "n_json")
    nation.write.option("header", "true").csv(csv_path)
    nation.write.json(json_path)
    schema = "n_nationkey bigint, n_name string, n_regionkey bigint, n_comment string"
    back_csv = read_csv(spark, csv_path, schema)
    back_json = read_json(spark, json_path, schema)
    want = sorted(map(tuple, nation.collect()))
    assert sorted(map(tuple, back_csv.select(*nation.columns).collect())) == want
    assert sorted(map(tuple, back_json.select(*nation.columns).collect())) == want


def test_kmeans_deterministic_and_converging(spark, sf_dir):
    """Lloyd's: same input → same centroids; inertia never increases."""
    import numpy as np

    from etl_geotab_spark.io import load_table
    from etl_geotab_spark.operators.kmeans import lloyd_kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    assert emb.count() == 500  # r16 §26b: determinism/convergence
    # checks below would hold trivially on an empty read
    X = np.array([r[0] for r in emb.select("embedding").collect()], dtype=np.float64)

    def inertia(centroids):
        C = np.asarray(centroids)
        return ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).min(axis=1).sum()

    _, c1 = lloyd_kmeans(emb, k=4, iters=1)
    _, c3 = lloyd_kmeans(emb, k=4, iters=3)
    _, c3b = lloyd_kmeans(emb, k=4, iters=3)
    assert c3 == c3b, "k-means must be deterministic"
    assert inertia(c3) <= inertia(c1) + 1e-9, "inertia must not increase"
    # every point assigned to a valid cluster
    assigned, cents = lloyd_kmeans(emb, k=4, iters=2)
    clusters = {r["cluster"] for r in assigned.select("cluster").collect()}
    assert clusters <= set(range(4))
    assert len(cents) == 4


def _numpy_assign(X, C, metric):
    """Nearest centroid per row; argmin/argmax keep the first optimum,
    so ties go to the lowest centroid id."""
    import numpy as np

    if metric == "euclidean":
        return ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)

    def unit(M):
        n = np.linalg.norm(M, axis=1)
        return M / np.where(n == 0, 1.0, n)[:, None]

    return (unit(X) @ unit(C).T).argmax(axis=1)


def _numpy_lloyd(X, C, metric, iters):
    """Plain Lloyd loop: a centroid that captures nothing keeps its
    vector. Returns (centroids, final assignment)."""
    import numpy as np

    for _ in range(iters):
        a = _numpy_assign(X, C, metric)
        C = np.array(
            [X[a == j].mean(axis=0) if (a == j).any() else C[j] for j in range(len(C))]
        )
    return C, _numpy_assign(X, C, metric)


@pytest.mark.parametrize("metric", ["euclidean", "cosine"])
def test_lloyd_matches_numpy_reference(spark, sf_dir, metric):
    """k-means (euclidean) and the IVF build (cosine) against a plain
    numpy Lloyd loop from the same seeds. One extra row copies a seed's
    vector under an id that is seeded first, so round 1 starts with two
    identical centroids: every tie must go to the lower id, and the
    other centroid, left empty, must keep its vector."""
    import hashlib
    import itertools

    import numpy as np

    from etl_geotab_spark.io import load_table
    from etl_geotab_spark.operators.kmeans import lloyd_kmeans
    from etl_geotab_spark.operators.similarity import _ivf_build

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    k, iters = 8, 3
    if metric == "euclidean":  # seeds: the k lowest ids
        rank = lambda i: i  # noqa: E731
        dup_id = min(i for i, _ in rows) - 1
    else:  # seeds: the k smallest md5(seed || id)
        rank = lambda i: hashlib.md5(f"42{i}".encode()).hexdigest()  # noqa: E731
        first = min(rank(i) for i, _ in rows)
        dup_id = next(i for i in itertools.count(10**6) if rank(i) < first)
    rows.append((dup_id, min(rows, key=lambda r: rank(r[0]))[1]))
    corpus = spark.createDataFrame(rows, emb.schema)

    ids = [i for i, _ in rows]
    X = np.array([v for _, v in rows], dtype=np.float64)
    seeds = X[sorted(range(len(rows)), key=lambda n: rank(ids[n]))[:k]]
    first_round = _numpy_assign(X, seeds, metric)
    assert 0 in first_round and 1 not in first_round  # the tie, the empty

    if metric == "euclidean":
        assigned, cents = lloyd_kmeans(corpus, k=k, iters=iters)
        got = assigned.select("vec_id", "cluster").collect()
    else:
        cents, inverted = _ivf_build(corpus, "embedding", "vec_id", k, 42, iters)
        got = inverted.select("vec_id", "centroid_id").collect()
    want_c, want_a = _numpy_lloyd(X, seeds, metric, iters)
    err = float(np.abs(np.asarray(cents) - want_c).max())
    assert err <= 1e-9, f"centroids differ from numpy by {err}"
    assert dict(map(tuple, got)) == dict(zip(ids, want_a.tolist()))


def test_grid_spatial_join_matches_naive(spark):
    """Grid-bucketed pair join finds exactly the naive O(n^2) pairs."""
    from etl_geotab_spark.queries import queries
    from etl_geotab_spark.io import load_table
    from pyspark.sql import functions as F

    got = {
        (r["id_a"], r["id_b"])
        for r in queries()["grid_spatial_join"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    k = F.col("o_orderkey")
    pts = o.select(
        k.alias("id"),
        (((k * k) % 18000) / 100.0 - 90.0).alias("lat"),
        ((((k + 12345) * (k + 67890)) % 36000) / 100.0 - 180.0).alias("lon"),
    )
    a, b = pts.alias("a"), pts.alias("b")
    dlat = F.col("a.lat") - F.col("b.lat")
    dlon = F.col("a.lon") - F.col("b.lon")
    naive = {
        (r["ia"], r["ib"])
        for r in a.crossJoin(b)
        .where(
            (F.col("a.id") < F.col("b.id"))
            & (dlat * dlat + dlon * dlon < 0.01)
        )
        .select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
        .collect()
    }
    assert got == naive
    assert naive, "scatter parameters must actually produce pairs"


def test_sessionize_gap_semantics(spark):
    """30-min gap starts a new session; boundary (exactly 30min) does not."""
    from pyspark.sql import functions as F
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 100, base, 1.0),
        (2, 100, base + dt.timedelta(minutes=30), 1.0),   # exactly 30 → same
        (3, 100, base + dt.timedelta(minutes=61), 1.0),   # >30 gap → new
        (4, 200, base, 5.0),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    ev.createOrReplaceTempView("_sess_ev")
    # reuse the production query body against a temp dir is awkward;
    # replicate the operator inline (same expressions as queries.py)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = ev.withColumn("s", F.sum(is_new).over(run))
    got = {
        (r["user_id"], r["event_id"]): r["s"]
        for r in sess.collect()
    }
    assert got[(100, 1)] == 1 and got[(100, 2)] == 1
    assert got[(100, 3)] == 2
    assert got[(200, 4)] == 1


def test_pack_sequences_invariants(spark):
    """Every doc lands in exactly one bin; bin token totals tile the
    per-shard running sum (concat-and-chunk semantics: a bin holds the
    docs whose starting offset falls in [b*C, (b+1)*C))."""
    from etl_geotab_spark.queries import queries
    from etl_geotab_spark.io import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    bins = queries()["pack_sequences"](spark, sf).collect()
    docs = load_table(spark, sf, "documents")
    n_docs = docs.count()
    total_tokens = docs.select(
        F.sum(
            F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        )
    ).collect()[0][0]
    assert sum(r["n_docs"] for r in bins) == n_docs
    assert sum(r["bin_tokens"] for r in bins) == total_tokens
    # bin ids are unique and shard-namespaced
    ids = [r["bin_id"] for r in bins]
    assert len(ids) == len(set(ids))
    # every non-final bin in a shard starts where the previous ended:
    # per shard, bins sorted by id have contiguous doc ranges
    by_shard = {}
    for r in bins:
        by_shard.setdefault(r["bin_id"] // 100000, []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["bin_id"])
        for a, b in zip(rs, rs[1:]):
            assert a["last_doc"] < b["first_doc"]


def test_orc_roundtrip(spark, tmp_path):
    """ORC write/read preserves rows and schema (S6 family, 2nd
    columnar format)."""
    from etl_geotab_spark.io import load_table, read_orc, write_orc

    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    path = str(tmp_path / "nation_orc")
    write_orc(nation, path)
    back = read_orc(spark, path)
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, nation.collect())
    )


def test_observed_metrics(spark):
    """observe() metrics ride along with the action — no second scan."""
    from pyspark.sql import functions as F

    from etl_geotab_spark.io import load_table, observed

    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    df, obs = observed(
        nation,
        "nation_metrics",
        F.count(F.lit(1)).alias("rows"),
        # DISTINCT aggregates are rejected in CollectMetrics — the
        # sketch twin is allowed (and the right habit at scale anyway)
        F.approx_count_distinct("n_regionkey").alias("regions"),
    )
    out = df.where(F.col("n_nationkey") >= 0).collect()
    got = obs.get
    assert got["rows"] == 25 and len(out) == 25
    assert got["regions"] == 5


def test_upsert_semantics(spark):
    """MERGE semantics: matched keys replaced, new keys inserted,
    unmatched target rows untouched; column order preserved."""
    from etl_geotab_spark.operators.merge import upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["k", "name", "val"],
    )
    updates = spark.createDataFrame(
        [(2, "B2", 99.0), (4, "d", 40.0)], ["k", "name", "val"]
    )
    got = {r["k"]: (r["name"], r["val"]) for r in
           upsert(target, updates, ["k"]).collect()}
    assert got == {1: ("a", 10.0), 2: ("B2", 99.0),
                   3: ("c", 30.0), 4: ("d", 40.0)}


def test_scd2_collapses_and_versions(spark):
    """SCD2: consecutive identical states merge; intervals chain
    end-to-start; exactly one current row per key."""
    from etl_geotab_spark.operators.merge import scd2_from_events

    rows = [
        # user 1: a, a (re-observed), b, a  -> 3 versions
        (1, "a", 1, 101), (1, "a", 2, 102), (1, "b", 3, 103),
        (1, "a", 4, 104),
        # user 2: single state
        (2, "x", 5, 201),
    ]
    df = spark.createDataFrame(rows, ["uid", "state", "ts", "eid"])
    out = scd2_from_events(
        df, ["uid"], "ts", ["state"], tiebreak_cols=["eid"]
    ).collect()
    u1 = sorted([r for r in out if r["uid"] == 1], key=lambda r: r["version"])
    assert [(r["state"], r["valid_from"], r["valid_to"]) for r in u1] == [
        ("a", 1, 3), ("b", 3, 4), ("a", 4, None),
    ]
    assert [r["is_current"] for r in u1] == [False, False, True]
    u2 = [r for r in out if r["uid"] == 2]
    assert len(u2) == 1 and u2[0]["is_current"] and u2[0]["version"] == 1


def test_global_row_number_matches_naive_window(spark):
    """Range-partitioned numbering == row_number() over global order,
    on a skewed key distribution and more partitions than rows in some
    ranges."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_geotab_spark.operators.rownum import global_row_number

    rows = [(k,) for k in [5, 1, 9, 3, 3, 7, 2, 8, 100, -4, 0, 3]]
    df = spark.createDataFrame(rows, ["k"]).withColumn(
        "uid", F.monotonically_increasing_id()
    )
    got = global_row_number(df, ["k", "uid"], "rn", num_partitions=5)
    naive = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("k", "uid"))
    )
    assert sorted(map(tuple, got.select("k", "uid", "rn").collect())) == \
        sorted(map(tuple, naive.select("k", "uid", "rn").collect()))
    rns = sorted(r["rn"] for r in got.collect())
    assert rns == list(range(1, len(rows) + 1))


def test_ordered_prefix_sum_matches_naive_window(spark):
    """Range-partitioned running sum == sum() OVER (ORDER BY k ROWS
    UNBOUNDED PRECEDING..CURRENT), including negative values, and with
    more partitions than distinct keys in some ranges."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_geotab_spark.operators.rownum import ordered_prefix_sum

    rows = [(5, 2), (1, 7), (9, -3), (3, 1), (7, 0), (2, 4), (8, 10),
            (100, 1), (-4, 6), (0, 5)]
    df = spark.createDataFrame(rows, ["k", "v"])
    got = ordered_prefix_sum(df, ["k"], "v", "cum", num_partitions=4)
    naive = df.withColumn(
        "cum",
        F.sum("v").over(
            Window.orderBy("k").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    assert sorted(map(tuple, got.select("k", "v", "cum").collect())) == \
        sorted(map(tuple, naive.select("k", "v", "cum").collect()))


def test_bucketed_join_elides_exchange(spark, sf_dir):
    """Both sides written bucketed on the join key → the join plan has
    no Exchange above either scan (the whole point of bucketing: the
    shuffle is paid once at write time, not per query)."""
    import re

    from etl_geotab_spark.queries import q_bucketed_colocated_join

    # at fixture scale Catalyst would (correctly) broadcast the small
    # side, which hides the thing under test; force the shuffle-strategy
    # path to prove the bucket metadata removes its exchanges.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q_bucketed_colocated_join(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    join_m = re.search(r"SortMergeJoin|ShuffledHashJoin", plan)
    assert join_m, f"expected a shuffle-strategy join node:\n{plan}"
    # everything below the join node must be exchange-free
    below = plan[join_m.start():]
    assert "Exchange hashpartitioning" not in below, (
        "bucketed join still shuffles an input:\n" + plan
    )
    # and the result is the plain-join answer
    rows = {r["o_orderpriority"]: r["n_items"] for r in df.collect()}
    from etl_geotab_spark.io import load_table

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    naive = {
        r["o_orderpriority"]: r["n"]
        for r in o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert rows == naive


def test_pii_redact_strips_all_pii(spark, sf_dir):
    from etl_geotab_spark.queries import q_pii_redact

    out = q_pii_redact(spark, sf_dir).limit(200).collect()
    assert out
    for r in out:
        assert "@" not in r["clean_text"], r["clean_text"]
        assert "+1-555-" not in r["clean_text"]
        assert "<EMAIL>" in r["clean_text"]
        assert r["n_emails"] >= 1


def test_contamination_only_flags_benchmark_overlap(spark, sf_dir):
    from etl_geotab_spark.queries import q_contamination_overlap

    out = q_contamination_overlap(spark, sf_dir).collect()
    # benchmark docs themselves (doc_id % 50 == 0) must never appear
    assert all(r["doc_id"] % 50 != 0 for r in out)
    assert all(r["n_overlap"] >= 1 for r in out)


def test_train_split_deterministic_and_exhaustive(spark, sf_dir):
    from etl_geotab_spark.io import load_table
    from etl_geotab_spark.queries import q_train_val_test_split

    out = {r["split"]: r["n_docs"] for r in q_train_val_test_split(spark, sf_dir).collect()}
    total = load_table(spark, sf_dir, "documents").count()
    assert total == 500  # r16 §26b: 0 == sum({}) would reconcile too
    assert sum(out.values()) == total
    assert set(out) <= {"train", "val", "test"}
    # 12/2/2 hex-nibble buckets: train should dominate
    assert out["train"] > out.get("val", 0) and out["train"] > out.get("test", 0)


def test_persisted_ivf_index_prunes_and_matches(spark, tmp_path):
    """build_ivf_index -> ivf_index_topk: the on-disk inverted file is
    partitioned by centroid_id, the query path prunes to the probed
    partitions (PartitionFilters in the scan), and results equal the
    in-memory ivf_topk with the same seed/params."""
    from pyspark.sql import functions as F

    from etl_geotab_spark.io import load_table
    from etl_geotab_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
        ivf_topk,
    )

    import re

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.where(F.col("vec_id") % 250 == 0)  # 2 queries -> <=6 probed lists
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, num_centroids=8, seed=42, refine_iters=1)

    got = ivf_index_topk(spark, path, qs, k=5, n_probe=3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the inverted-file scan must prune on the partition column with a
    # bounded IN-list (scan paths are truncated in plan metadata, so
    # identify the scan by its partition filter, not its location)
    assert re.search(
        r"PartitionFilters: \[[^\]]*centroid_id[^\]]* IN \([^)]*\)", plan
    ), plan

    want = ivf_topk(emb, qs, k=5, num_centroids=8, n_probe=3, seed=42,
                    refine_iters=1)
    g = sorted((r.query_id, r.neighbor_id, r.rank) for r in got.collect())
    w = sorted((r.query_id, r.neighbor_id, r.rank) for r in want.collect())
    assert g == w and g, "persisted index diverged from in-memory path"


# ---------------------------------------- bounded eval-harness ground truth


def test_ngram_jaccard_probe_matches_full_when_probe_is_all(spark, sf_dir):
    """ngram_jaccard_pairs_probe with probe=corpus must equal the full
    pair set — verifies the least/greatest + countDistinct normalization
    (both-endpoint-in-probe pairs are seen once per direction)."""
    from etl_geotab_spark.io import load_table
    from etl_geotab_spark.operators.dedup import ngram_jaccard_pairs_probe

    d = load_table(spark, sf_dir, "documents")
    all_ids = [r[0] for r in d.select("doc_id").collect()]
    full = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5).collect()
    }
    probed = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs_probe(
            d, "text", "doc_id", all_ids, n=3, threshold=0.5
        ).collect()
    }
    assert probed == full and full


def test_ngram_jaccard_probe_restricts_to_incident_pairs(spark):
    """Pairs with NEITHER endpoint in the probe must not appear."""
    from etl_geotab_spark.operators.dedup import ngram_jaccard_pairs_probe

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # dup of 1
            (3, "zeta eta theta iota kappa"),
            (4, "zeta eta theta iota kappa"),  # dup of 3, not probed
        ],
        "doc_id int, text string",
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs_probe(
            df, "text", "doc_id", [1], n=3, threshold=0.5
        ).collect()
    }
    assert pairs == {(1, 2)}


def test_eval_query_side_is_fixed_size_topk(spark, sf_dir):
    """The ann_recall_eval query side is a deterministic fixed-size
    sample: md5-order limit(k) → TakeOrderedAndProject (no full sort,
    no corpus-proportional fan-out)."""
    from etl_geotab_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    side = emb.orderBy(F.md5(F.col("vec_id").cast("string"))).limit(7)
    plan = side._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    ids_a = [r.vec_id for r in side.select("vec_id").collect()]
    ids_b = [r.vec_id for r in side.select("vec_id").collect()]
    assert len(ids_a) == 7 and sorted(ids_a) == sorted(ids_b)


def test_colocated_tables_distinct_inputs_get_distinct_storage(spark, tmp_path):
    """Two different inputs under the SAME side name must not share a
    bucketed table OR its storage path — the first returned (lazy)
    handle must still read the first input's rows after the second
    write (round-4 review: the fingerprint must reach the path, not
    just the catalog name)."""
    from etl_geotab_spark.operators.bucketed import colocated_tables

    a = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b = spark.createDataFrame([(9, "z")], "k int, v string")
    base = str(tmp_path / "bkt")
    first = colocated_tables(spark, "sfX", base, {"side": (a, "k")})["side"]
    second = colocated_tables(spark, "sfX", base, {"side": (b, "k")})["side"]
    assert sorted(r.k for r in first.collect()) == [1, 2]
    assert sorted(r.k for r in second.collect()) == [9]
    # and re-reading the first handle after the second write still works
    assert sorted(r.k for r in first.collect()) == [1, 2]


# ------------------------------------------------- heavy hitters / skyline


def test_misra_gries_superset_and_exact_recount(spark):
    """MG candidates must be a SUPERSET of every item with share >= s
    (the two-pass guarantee), and heavy_hitters must equal the plain
    GROUP BY HAVING answer exactly."""
    from etl_geotab_spark.operators.frequency import (
        heavy_hitters,
        misra_gries_candidates,
    )

    # skewed stream: 'a' 40%, 'b' 25%, long tail of singletons
    rows = (
        [("a",)] * 400 + [("b",)] * 250 + [(f"t{i}",) for i in range(350)]
    )
    df = spark.createDataFrame(rows, "item string").repartition(8)
    s = 0.2
    cand = {r.item for r in misra_gries_candidates(df, "item", s).collect()}
    assert {"a", "b"} <= cand
    got = {(r.item, r.cnt) for r in heavy_hitters(df, "item", s).collect()}
    assert got == {("a", 400), ("b", 250)}


def test_heavy_hitters_no_false_positives(spark):
    """Uniform stream with no s-heavy item -> empty result (the
    recount filter removes every MG survivor)."""
    from etl_geotab_spark.operators.frequency import heavy_hitters

    df = spark.createDataFrame(
        [(f"u{i % 50}",) for i in range(1000)], "item string"
    ).repartition(4)
    assert heavy_hitters(df, "item", 0.1).count() == 0


def test_skyline_2d_matches_naive(spark):
    """Distributed skyline == naive NOT EXISTS dominance, including
    duplicate frontier points (neither strictly dominates the other)."""
    from etl_geotab_spark.operators.skyline import skyline_2d

    pts = [
        (1, 10.0, 5),
        (2, 10.0, 5),   # duplicate of 1 -> both on the skyline
        (3, 12.0, 7),   # frontier (higher max, higher min)
        (4, 9.0, 5),    # dominated by 1 (same min, lower max)
        (5, 10.0, 6),   # dominated by 1 (same max, higher min)
        (6, 15.0, 2),   # dominates everything with min >= 2, max <= 15
        (7, 3.0, 1),    # frontier (lowest min)
    ]
    df = spark.createDataFrame(pts, "id long, vmax double, vmin long").repartition(4)
    got = {r.id for r in skyline_2d(df, "vmax", "vmin").collect()}

    def dominated(p, q):
        return (
            q[1] >= p[1] and q[2] <= p[2] and (q[1] > p[1] or q[2] < p[2])
        )

    want = {p[0] for p in pts if not any(dominated(p, q) for q in pts)}
    assert got == want


def test_skyline_2d_null_measures_excluded(spark):
    from etl_geotab_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame(
        [(1, 5.0, 1), (2, None, 0), (3, 7.0, None)],
        "id long, vmax double, vmin long",
    )
    got = {r.id for r in skyline_2d(df, "vmax", "vmin").collect()}
    assert got == {1}


def test_ngram_jaccard_cross_matches_manual(spark):
    """Cross-corpus Jaccard equals hand-computed values and never pairs
    incoming docs with each other (the incremental-dedup contract)."""
    from etl_geotab_spark.operators.dedup import ngram_jaccard_cross

    incoming = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6"), (2, "q1 q2 q3 q4 q5 q6")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(10, "w1 w2 w3 w4 w5 zz"), (11, "w1 w2 w3 w4 w5 w6"),
         (12, "r1 r2 r3 r4 r5 r6")],
        "doc_id long, text string",
    )
    out = {
        (r.incoming_id, r.corpus_id): r.jaccard
        for r in ngram_jaccard_cross(
            incoming, corpus, "text", "doc_id", n=2, threshold=0.3
        ).collect()
    }
    assert out[(1, 11)] == 1.0          # exact dup of a corpus doc
    assert 0.5 < out[(1, 10)] < 0.7     # 4 shared of 6 union
    assert all(i == 1 for i, _ in out)  # doc 2 matches nothing
    assert all(c in (10, 11) for _, c in out)


def test_heavy_hitters_boundary_share(spark):
    """Items at share EXACTLY s must be returned even when 1/s is an
    integer — the MG k = ceil(1/s) strictness requirement (k-1 counters
    can fully evict a boundary item, a false negative vs the >= filter;
    simulated: [a,a,b,b] at s=0.5 emptied the candidate set with k=1)."""
    from etl_geotab_spark.operators.frequency import heavy_hitters

    df = spark.createDataFrame([("a",), ("a",), ("b",), ("b",)], "item string")
    got = {(r.item, r.cnt) for r in heavy_hitters(df, "item", 0.5).collect()}
    assert got == {("a", 2), ("b", 2)}
    # round-robined boundary case across partitions
    df4 = spark.createDataFrame(
        [(f"k{i % 4}",) for i in range(16)], "item string"
    ).repartition(4)
    got4 = {(r.item, r.cnt) for r in heavy_hitters(df4, "item", 0.25).collect()}
    assert got4 == {(f"k{i}", 4) for i in range(4)}
    # float-threshold boundary: fl(0.07)*100 = 7.000000000000001, so a
    # double comparison would drop the exactly-7-count item — the
    # decimal threshold must keep it.
    df7 = spark.createDataFrame(
        [("hot",)] * 7 + [(f"t{i}",) for i in range(93)], "item string"
    ).repartition(4)
    got7 = {(r.item, r.cnt) for r in heavy_hitters(df7, "item", 0.07).collect()}
    assert got7 == {("hot", 7)}


def test_cosine_topk_blas_edge_cases(spark):
    """Duplicate embeddings at the local top-k boundary break ties by
    neighbor_id (matching the expression tier); an empty query frame
    returns an empty result instead of crashing."""
    from etl_geotab_spark.operators.similarity import cosine_topk_blas

    rows = [(1, [1.0, 0.0])] + [(i, [0.8, 0.2]) for i in range(2, 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk_blas(df, df.where(F.col("vec_id") == 1), k=3)
    got = [(r.neighbor_id, r.rank) for r in out.orderBy("rank").collect()]
    # six identical candidates tied on sim -> smallest ids win
    assert got == [(2, 1), (3, 2), (4, 3)]

    empty = cosine_topk_blas(df, df.where(F.col("vec_id") < 0), k=3)
    assert empty.count() == 0
    assert empty.columns == ["query_id", "neighbor_id", "cosine_sim", "rank"]


def test_rownum_helpers_handle_empty_input(spark):
    """round-6 ADVICE: an empty input DataFrame used to crash both
    rownum helpers ('can not infer schema from empty dataset' while
    building the offsets frame). Empty in -> empty out, schema
    stable."""
    from etl_geotab_spark.operators.rownum import (
        global_row_number,
        ordered_prefix_sum,
    )

    empty = spark.createDataFrame([], "k long, v long")
    rn = global_row_number(empty, ["k"], "rn", num_partitions=4)
    assert rn.count() == 0 and set(rn.columns) == {"k", "v", "rn"}
    cum = ordered_prefix_sum(empty, ["k"], "v", "cum", num_partitions=4)
    assert cum.count() == 0 and set(cum.columns) == {"k", "v", "cum"}


def test_rownum_helpers_leave_no_sql_cache_entry(spark):
    """round-6 ADVICE: the helpers used to .persist() and never
    unpersist, pinning one CacheManager entry per call in long-lived
    sessions. The localCheckpoint rewrite must leave the SQL cache
    exactly as it found it (ContextCleaner reclaims checkpoint blocks
    on GC instead)."""
    from pyspark.sql import functions as F

    from etl_geotab_spark.operators.rownum import (
        global_row_number,
        ordered_prefix_sum,
    )

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache_mgr.isEmpty()
    df = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    global_row_number(df, ["k", "v"], "rn", num_partitions=4).count()
    ordered_prefix_sum(df, ["k", "v"], "v", "cum", num_partitions=4).count()
    assert cache_mgr.isEmpty() == was_empty


def test_colocated_tables_reuses_completed_directory(spark, tmp_path):
    """round-7 rework: the bucket cache is content-addressed and shared
    across sessions. Simulate a second session by dropping the catalog
    entry: the next call must register an external bucketed table over
    the EXISTING files (no rewrite — file mtimes untouched) and the
    join-exchange elision must hold on that reuse path."""
    import os
    import re

    from etl_geotab_spark.io import load_table
    from etl_geotab_spark.operators.bucketed import colocated_tables

    sf = "/root/testdata/sf0.001"
    base = str(tmp_path / "bkt")
    sides = lambda: {  # noqa: E731
        "orders": (load_table(spark, sf, "orders"), "o_orderkey"),
        "lineitem": (load_table(spark, sf, "lineitem"), "l_orderkey"),
    }

    def drop_bkt_tables():
        # the shared session may carry bkt_* registrations from other
        # tests for the SAME content key; tableExists would then
        # short-circuit the write into this test's fresh base dir
        for t in spark.catalog.listTables():
            if t.name.startswith("bkt_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")

    drop_bkt_tables()
    first = colocated_tables(spark, sf, base, sides())
    n_first = first["orders"].count()

    def tree_state(root):
        return sorted(
            (os.path.join(r, f), os.path.getmtime(os.path.join(r, f)))
            for r, _, fs in os.walk(root)
            for f in fs
        )
    before = tree_state(base)
    assert any("_SUCCESS" in p for p, _ in before)

    # "new session": the in-memory catalog entries are gone, files stay
    drop_bkt_tables()
    second = colocated_tables(spark, sf, base, sides())
    assert second["orders"].count() == n_first
    assert tree_state(base) == before, "reuse path must not rewrite files"

    # the reuse-path registration still elides the join exchange
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o, li = second["orders"], second["lineitem"]
        j = o.join(li, o.o_orderkey == li.l_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    m = re.search(r"SortMergeJoin|ShuffledHashJoin", plan)
    assert m, plan
    final_section = plan.split("== Initial Plan ==")[0]
    assert "Exchange hashpartitioning" not in final_section[m.start():], plan


def test_colocated_tables_info_out_reports_branch(spark, tmp_path):
    """round-10 verdict item 2: callers must be able to ASSERT which
    cache path ran. Cold call → "write"; same-session repeat →
    "catalog" (registration short-circuit); catalog dropped with files
    intact (a fresh session on a warm shared cache) → "reuse"."""
    from etl_geotab_spark.io import load_table
    from etl_geotab_spark.operators.bucketed import colocated_tables

    sf = "/root/testdata/sf0.001"
    base = str(tmp_path / "bkt")
    side = lambda: {"nation": (load_table(spark, sf, "nation"), "n_nationkey")}  # noqa: E731

    cold: dict = {}
    colocated_tables(spark, sf, base, side(), info_out=cold)
    assert cold["nation"]["branch"] == "write", cold

    warm: dict = {}
    colocated_tables(spark, sf, base, side(), info_out=warm)
    assert warm["nation"]["branch"] == "catalog", warm
    assert warm["nation"]["table"] == cold["nation"]["table"]

    spark.sql(f"DROP TABLE IF EXISTS {warm['nation']['table']}")
    reuse: dict = {}
    colocated_tables(spark, sf, base, side(), info_out=reuse)
    assert reuse["nation"]["branch"] == "reuse", reuse

    # info_out omitted stays the old contract: no error, no report
    assert "nation" in colocated_tables(spark, sf, base, side())


def test_bucketed_colocated_join_pins_reuse_branch(spark, sf_dir):
    """The query's compared output carries cache_reused=TRUE only when
    its joined frame came from the REUSE branch (external registration
    over pre-existing completed files) — the oracle pins TRUE, so a
    driver green row is positive evidence that branch executed."""
    from etl_geotab_spark.queries import q_bucketed_colocated_join

    rows = q_bucketed_colocated_join(spark, sf_dir).collect()
    assert rows and all(r["cache_reused"] is True for r in rows)


def test_operator_surface_handles_empty_inputs(spark):
    """Empty in -> empty out (no crash) across the public operator
    surface — the round-6 ADVICE found the rownum helpers crashing on
    empty frames; this pins the rest of the family so the property
    holds as operators evolve."""
    from etl_geotab_spark.operators.asof import asof_join
    from etl_geotab_spark.operators.bpe import learn_bpe_merges
    from etl_geotab_spark.operators.clusters import connected_components
    from etl_geotab_spark.operators.dedup import (
        dedup_exact,
        dedup_latest,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
    )
    from etl_geotab_spark.operators.pagerank import pagerank
    from etl_geotab_spark.operators.similarity import cosine_topk_blas
    from etl_geotab_spark.operators.skew import salted_join
    from etl_geotab_spark.operators.topk import top_k_global, top_k_per_group

    ev = spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp, v double"
    )
    px = spark.createDataFrame([], "user_id long, ts timestamp, px double")
    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label string"
    )
    doc = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    edges = spark.createDataFrame([], "src long, dst long")

    assert asof_join(ev, px, "user_id", "user_id", "ts", "ts").count() == 0
    assert top_k_global(ev, [F.col("v").desc()], 3).count() == 0
    assert top_k_per_group(ev, ["user_id"], [F.col("v").desc()], 3).count() == 0
    assert dedup_latest(ev, ["user_id"], "ts", ["event_id"]).count() == 0
    assert dedup_exact(doc, "text", "doc_id").count() == 0
    assert minhash_lsh_pairs(doc, "text", "doc_id").count() == 0
    assert simhash_near_dup_pairs(doc, "text", "doc_id").count() == 0
    assert ngram_jaccard_pairs(doc, "text", "doc_id").count() == 0
    assert salted_join(
        ev, px.selectExpr("user_id as uid2", "px"), "user_id", "uid2",
        salt_cols=["event_id"],
    ).count() == 0
    assert cosine_topk_blas(emb, emb, k=3).count() == 0
    assert connected_components(edges, "src", "dst").count() == 0
    assert pagerank(edges).count() == 0
    assert learn_bpe_merges(doc, "text").count() == 0


# ----------------------------------------- bucketed cache hardening (r8)


def _bkt_tables(spark):
    return {t.name for t in spark.catalog.listTables() if t.name.startswith("bkt_")}


def _drop_bkt_tables(spark):
    for t in _bkt_tables(spark):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_colocated_tables_distinct_base_dirs(spark, tmp_path):
    """round-8 advice: the catalog short-circuit must key on base_dir
    too. Same session, same input, two different bases: the second
    call must materialize under ITS base (not silently return the
    first base's registration), so deleting base A cannot break the
    handle served for base B."""
    import shutil as _sh

    from etl_geotab_spark.io import load_table
    from etl_geotab_spark.operators.bucketed import colocated_tables

    sf = "/root/testdata/sf0.001"
    base_a = str(tmp_path / "bkt_a")
    base_b = str(tmp_path / "bkt_b")
    side = lambda: {"nation": (load_table(spark, sf, "nation"), "n_nationkey")}  # noqa: E731
    _drop_bkt_tables(spark)
    a = colocated_tables(spark, sf, base_a, side())["nation"]
    n = a.count()
    b = colocated_tables(spark, sf, base_b, side())["nation"]
    assert os.path.isdir(base_b), "second base_dir was never written"
    _sh.rmtree(base_a)  # the failure mode: b lazily reading base_a
    assert b.count() == n


def test_colocated_tables_in_memory_inputs_session_scoped(spark, tmp_path):
    """round-8 advice: in-memory relations have process-unstable
    fingerprints, so publishing them into the persistent cache leaks
    one never-reusable directory per process. They must land in a
    pid-stamped session dir (atexit-cleaned) instead, and the
    persistent namespace must gain no completed dirs for them."""
    from etl_geotab_spark.operators.bucketed import colocated_tables

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    base = str(tmp_path / "bkt")
    _drop_bkt_tables(spark)
    out = colocated_tables(spark, "sfMEM", base, {"side": (df, "k")})["side"]
    assert sorted(r.k for r in out.collect()) == [1, 2]
    ns_dir = os.path.join(base, "sfMEM")
    top = os.listdir(ns_dir)
    assert top == [f"session.p{os.getpid()}"], top
    # and the session dir holds the completed copy
    ses = os.path.join(ns_dir, top[0])
    assert any(
        os.path.exists(os.path.join(ses, d, "_SUCCESS"))
        for d in os.listdir(ses)
    )


def test_colocated_tables_heals_wedged_final(spark, tmp_path):
    """round-8 advice: a `final` dir that exists WITHOUT _SUCCESS
    (interrupted cleanup / pre-round-7 layout) used to fail every
    writer's rename with ENOTEMPTY forever. The writer must now claim
    and remove the incomplete dir and retry — same rows out."""
    from etl_geotab_spark.io import load_table
    from etl_geotab_spark.operators.bucketed import colocated_tables

    sf = "/root/testdata/sf0.001"
    base = str(tmp_path / "bkt")
    side = lambda: {"region": (load_table(spark, sf, "region"), "r_regionkey")}  # noqa: E731
    _drop_bkt_tables(spark)
    # discover the content-addressed final path via a clean run
    from etl_geotab_spark.operators.bucketed import _safe_name

    first = colocated_tables(spark, sf, base, side())["region"]
    n = first.count()
    ns_dir = os.path.join(base, _safe_name(sf.strip("/")))
    assert os.path.isdir(ns_dir), os.listdir(base)
    (final,) = [
        os.path.join(ns_dir, d)
        for d in os.listdir(ns_dir)
        if d.startswith("region_")
    ]
    # wedge it: same path exists, no _SUCCESS, stray content inside
    import shutil as _sh

    _sh.rmtree(final)
    os.makedirs(final)
    with open(os.path.join(final, "stray.bin"), "w") as f:
        f.write("not a bucket file")
    _drop_bkt_tables(spark)  # force the write path (catalog miss)
    healed = colocated_tables(spark, sf, base, side())["region"]
    assert healed.count() == n
    assert os.path.exists(os.path.join(final, "_SUCCESS"))
    assert not os.path.exists(os.path.join(final, "stray.bin"))


def test_colocated_tables_literal_cannot_fake_in_memory(spark, tmp_path):
    """round-8 review: in-memory detection is line-anchored on operator
    NODES — a file-backed side whose filter literal contains
    'LocalRelation' must stay on the persistent cross-process cache,
    not get rerouted to the pid-scoped session dir."""
    from etl_geotab_spark.io import load_table
    from etl_geotab_spark.operators.bucketed import colocated_tables

    sf = "/root/testdata/sf0.001"
    base = str(tmp_path / "bkt")
    from pyspark.sql import functions as F

    df = load_table(spark, sf, "nation").where(
        ~F.col("n_name").contains("LocalRelation")
    )
    _drop_bkt_tables(spark)
    out = colocated_tables(spark, sf, base, {"nation": (df, "n_nationkey")})
    assert out["nation"].count() == 25
    ns_dir = os.path.join(base, "root_testdata_sf0_001")
    assert not any(
        e.startswith("session.p") for e in os.listdir(ns_dir)
    ), os.listdir(ns_dir)


def _dead_pid() -> int:
    """A pid guaranteed dead: spawn a no-op child and reap it."""
    import subprocess

    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_sweep_stale_rescues_dead_healers_completed_claim(tmp_path):
    """round-9 advice: if a healer claimed a just-completed winner
    aside (rename final -> *.stale.p<pid>) and crashed before the
    restore, the completed directory sits under the stale name. The
    dead-pid sweep must rename it BACK to its final path — deleting it
    would destroy a completed cache entry that a live session may have
    an external table registered over."""
    from etl_geotab_spark.operators.bucketed import _sweep_stale

    ns = str(tmp_path / "ns")
    pid = _dead_pid()
    # (a) completed claim, final absent -> restored
    stale = os.path.join(ns, f"side_k_8_abc.stale.p{pid}")
    os.makedirs(stale)
    open(os.path.join(stale, "_SUCCESS"), "w").close()
    with open(os.path.join(stale, "part-0.parquet"), "w") as f:
        f.write("bytes")
    _sweep_stale(ns)
    final = os.path.join(ns, "side_k_8_abc")
    assert os.path.exists(os.path.join(final, "_SUCCESS"))
    assert os.path.exists(os.path.join(final, "part-0.parquet"))
    assert not os.path.exists(stale)
    # (b) completed claim but final REFILLED meanwhile -> redundant
    # duplicate removed, refilled final untouched
    stale2 = os.path.join(ns, f"side_k_8_abc.stale.p{_dead_pid()}")
    os.makedirs(stale2)
    open(os.path.join(stale2, "_SUCCESS"), "w").close()
    _sweep_stale(ns)
    assert not os.path.exists(stale2)
    assert os.path.exists(os.path.join(final, "part-0.parquet"))
    # (c) incomplete dead claim (no _SUCCESS) -> removed as before
    stale3 = os.path.join(ns, f"other_k_8_def.stale.p{_dead_pid()}")
    os.makedirs(stale3)
    _sweep_stale(ns)
    assert not os.path.exists(stale3)
    # (d) live-pid claim -> left alone (healer still running)
    stale4 = os.path.join(ns, f"busy_k_8_fff.stale.p{os.getpid()}")
    os.makedirs(stale4)
    open(os.path.join(stale4, "_SUCCESS"), "w").close()
    _sweep_stale(ns)
    assert os.path.isdir(stale4)
    # (e) completed claim whose final path is occupied by a no-_SUCCESS
    # wedge: the wedge is claimed aside and cleared, and the completed
    # claim is RESTORED into place — never deleted, never left to be
    # discarded as a duplicate after a redundant rewrite (round-9
    # review, both passes)
    wedged = os.path.join(ns, "wedge_k_8_eee")
    os.makedirs(wedged)
    with open(os.path.join(wedged, "stray.bin"), "w") as f:
        f.write("junk")
    stale5 = os.path.join(ns, f"wedge_k_8_eee.stale.p{_dead_pid()}")
    os.makedirs(stale5)
    open(os.path.join(stale5, "_SUCCESS"), "w").close()
    with open(os.path.join(stale5, "part-0.parquet"), "w") as f:
        f.write("bucketdata")
    _sweep_stale(ns)
    assert not os.path.exists(stale5)
    assert os.path.exists(os.path.join(wedged, "_SUCCESS"))
    assert os.path.exists(os.path.join(wedged, "part-0.parquet"))
    assert not os.path.exists(os.path.join(wedged, "stray.bin"))
    # (f) r10 aside format (`.stale.p<pid>.<seq>`): a dead completed
    # claim is rescued and a dead incomplete one removed, same as the
    # unsuffixed pre-r10 names above
    stale6 = os.path.join(ns, f"newfmt_k_8_ggg.stale.p{_dead_pid()}.3")
    os.makedirs(stale6)
    open(os.path.join(stale6, "_SUCCESS"), "w").close()
    stale7 = os.path.join(ns, f"newfmt_k_8_hhh.stale.p{_dead_pid()}.12")
    os.makedirs(stale7)
    _sweep_stale(ns)
    assert not os.path.exists(stale6)
    assert os.path.exists(os.path.join(ns, "newfmt_k_8_ggg", "_SUCCESS"))
    assert not os.path.exists(stale7)
    assert not os.path.exists(os.path.join(ns, "newfmt_k_8_hhh"))


def test_clear_incomplete_final_branches(tmp_path):
    """round-9 review (third pass): the shared claim-aside helper's
    winner branch was previously unpinned — a completed occupant must
    be restored untouched (return False), an incomplete wedge cleared
    (return True), and an absent final reported clear (return True).
    The invariant under test: a completed copy is never deleted unless
    the final path verifiably holds a completed entry."""
    from etl_geotab_spark.operators.bucketed import _clear_incomplete_final

    ns = str(tmp_path / "ns")
    os.makedirs(ns)
    # (a) completed occupant: restored in place, same inode, False
    final = os.path.join(ns, "side_k_8_aaa")
    os.makedirs(final)
    open(os.path.join(final, "_SUCCESS"), "w").close()
    with open(os.path.join(final, "part-0.parquet"), "w") as f:
        f.write("winner")
    ino = os.stat(os.path.join(final, "part-0.parquet")).st_ino
    assert _clear_incomplete_final(final) is False
    assert os.path.exists(os.path.join(final, "_SUCCESS"))
    assert os.stat(os.path.join(final, "part-0.parquet")).st_ino == ino
    # no aside of ANY name left behind by the restore round-trip
    # (asides are sequence-suffixed since r10, so glob, don't guess)
    assert not [e for e in os.listdir(ns) if ".stale.p" in e], os.listdir(ns)
    # (b) incomplete wedge: cleared, True
    wedge = os.path.join(ns, "side_k_8_bbb")
    os.makedirs(wedge)
    with open(os.path.join(wedge, "stray.bin"), "w") as f:
        f.write("junk")
    assert _clear_incomplete_final(wedge) is True
    assert not os.path.exists(wedge)
    assert not [e for e in os.listdir(ns) if ".stale.p" in e], os.listdir(ns)
    # (c) absent final: nothing to clear, True
    assert _clear_incomplete_final(os.path.join(ns, "side_k_8_ccc")) is True
    # (d) round-10 advice: a PRE-EXISTING self-owned aside for the
    # same key (a prior exotic put-back-failure keep — completed copy
    # parked under our live pid) must not wedge a later claim of an
    # incomplete final: the fresh sequence suffix keeps the claim
    # rename off the occupied path, so the clear still succeeds and
    # the kept completed copy survives for the post-exit sweep.
    kept = os.path.join(ns, f"side_k_8_ddd.stale.p{os.getpid()}")
    os.makedirs(kept)
    open(os.path.join(kept, "_SUCCESS"), "w").close()
    wedge2 = os.path.join(ns, "side_k_8_ddd")
    os.makedirs(wedge2)
    with open(os.path.join(wedge2, "stray.bin"), "w") as f:
        f.write("junk")
    assert _clear_incomplete_final(wedge2) is True
    assert not os.path.exists(wedge2)
    assert os.path.exists(os.path.join(kept, "_SUCCESS"))  # keep intact


def test_colocated_tables_rescue_skips_redundant_rewrite(spark, tmp_path):
    """round-9 review: when _sweep_stale rescues the requested key (a
    dead healer parked the completed dir under a stale name), the
    caller must NOT pay a full bucketed rewrite — the restored winner
    serves directly (bucket files byte-identical, not rewritten)."""
    from etl_geotab_spark.io import load_table
    from etl_geotab_spark.operators.bucketed import _safe_name, colocated_tables

    sf = "/root/testdata/sf0.001"
    base = str(tmp_path / "bkt")
    side = lambda: {"region": (load_table(spark, sf, "region"), "r_regionkey")}  # noqa: E731
    _drop_bkt_tables(spark)
    first = colocated_tables(spark, sf, base, side())["region"]
    n = first.count()
    ns_dir = os.path.join(base, _safe_name(sf.strip("/")))
    (final,) = [
        os.path.join(ns_dir, d)
        for d in os.listdir(ns_dir)
        if d.startswith("region_")
    ]
    part = next(
        os.path.join(final, f)
        for f in os.listdir(final)
        if f.endswith(".parquet")
    )
    sig = (os.stat(part).st_ino, os.stat(part).st_mtime_ns)
    # simulate the crashed healer: completed dir parked under a
    # dead-pid stale name, final path absent
    os.rename(final, f"{final}.stale.p{_dead_pid()}")
    _drop_bkt_tables(spark)  # force the storage path (catalog miss)
    rescued = colocated_tables(spark, sf, base, side())["region"]
    assert rescued.count() == n
    assert os.path.exists(os.path.join(final, "_SUCCESS"))
    # same inode + mtime = rescued, not rewritten
    assert (os.stat(part).st_ino, os.stat(part).st_mtime_ns) == sig


def test_session_dirs_vanish_under_bench_subprocess_topology(tmp_path):
    """round-8 verdict item 7: the bench runs each pass in its own
    subprocess/JVM. In-memory bucketed inputs land in per-process
    session.p<pid> dirs with atexit cleanup — confirm that under the
    real topology (two sequential subprocesses sharing one base_dir)
    no session.p* dir survives and no persistent content key is
    minted for the in-memory input."""
    import subprocess
    import sys

    base = str(tmp_path / "bkt")
    script = """
import sys
sys.path.insert(0, {repo!r})
from etl_geotab_spark.session import get_spark
from etl_geotab_spark.operators.bucketed import colocated_tables
spark = get_spark("session-dir-census", shuffle_partitions=4)
df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
out = colocated_tables(spark, "sfMEM", {base!r}, {{"side": (df, "k")}})
assert sorted(r.k for r in out["side"].collect()) == [1, 2]
spark.stop()
""".format(repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
           base=base)
    for _ in range(2):
        r = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True,
            timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
    ns_dir = os.path.join(base, "sfMEM")
    census = os.listdir(ns_dir) if os.path.isdir(ns_dir) else []
    assert not any(e.startswith("session.p") for e in census), census
    # no persistent content dir was minted for the in-memory side
    assert census == [], census
