"""kNN operators: strategy equivalence, ground truth, recall semantics."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from lantern_extras_spark.operators import knn as K


@pytest.mark.parametrize("metric", ["l2sq", "cos", "dot"])
def test_partial_equals_crossjoin(spark, emb, metric):
    q = emb.where("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = emb.where("vec_id >= 4")
    a = K.knn_join(data, q, k=7, metric=metric, strategy="partial", dist_scale=6)
    b = K.knn_join(data, q, k=7, metric=metric, strategy="crossjoin", dist_scale=6)
    ra = [(r["query_id"], r["rank"], r["vec_id"]) for r in a.orderBy("query_id", "rank").collect()]
    rb = [(r["query_id"], r["rank"], r["vec_id"]) for r in b.orderBy("query_id", "rank").collect()]
    assert ra == rb and len(ra) == 4 * 7


@pytest.mark.parametrize("metric", ["l2sq", "cos"])
def test_chunked_equals_crossjoin_multi_chunk(spark, emb, metric):
    """The default path must return the exact crossjoin answer while
    splitting the query side across several blocks (chunk_size forces >= 3
    chunks here)."""
    q = emb.where("vec_id < 12").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = emb.where("vec_id >= 12")
    a = K.knn_join(data, q, k=7, metric=metric, dist_scale=6, chunk_size=4)
    b = K.knn_join(data, q, k=7, metric=metric, strategy="crossjoin",
                   dist_scale=6)
    ra = [(r["query_id"], r["rank"], r["vec_id"])
          for r in a.orderBy("query_id", "rank").collect()]
    rb = [(r["query_id"], r["rank"], r["vec_id"])
          for r in b.orderBy("query_id", "rank").collect()]
    assert ra == rb and len(ra) == 12 * 7


def _blocks(df):
    """Number of partial-kernel query blocks in a result's plan."""
    return df._jdf.queryExecution().optimizedPlan().toString().count("MapInPandas")


def _key(df):
    return [(r["query_id"], r["rank"], r["vec_id"])
            for r in df.orderBy("query_id", "rank").collect()]


def test_chunked_works_above_partial_driver_cap(spark, emb, monkeypatch):
    """A query side above the driver cap runs exactly on the default path:
    it routes to hash-split blocks, none collected above the cap. Shrink the
    cap so the test stays fast while exercising the real guard."""
    monkeypatch.setattr(K, "MAX_COLLECTED_QUERIES", 8)
    q = emb.where("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    data = emb.where("vec_id >= 20")
    got = K.knn_join(data, q, k=3, metric="cos", dist_scale=6, chunk_size=4)
    want = K.knn_join(data, q, k=3, metric="cos", strategy="crossjoin",
                      dist_scale=6)
    assert _blocks(got) >= 2
    ga = _key(got)
    assert ga == _key(want) and len(ga) == 20 * 3


def test_partial_routes_by_query_count(spark, emb):
    """The query count picks the blocks: up to chunk_size queries run as one
    block, one more splits the query side — same answer either way, for
    knn_join and (labels included) hard_negatives. The strategies the
    routing replaced are rejected."""
    data = emb.where("vec_id >= 20")
    cols = [F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")]
    fits = emb.where("vec_id < 4").select(*cols)
    over = emb.where("vec_id < 5").select(*cols)
    for q, one_block in ((fits, True), (over, False)):
        got = K.knn_join(data, q, k=3, metric="cos", dist_scale=6, chunk_size=4)
        want = K.knn_join(data, q, k=3, metric="cos", strategy="crossjoin",
                          dist_scale=6)
        assert (_blocks(got) == 1) is one_block
        assert _key(got) == _key(want)
    qb = emb.where("vec_id < 20").select(*cols, F.col("label").alias("query_label"))
    hn = K.hard_negatives(data, qb, k=3, metric="cos", dist_scale=6, chunk_size=4)
    hw = K.hard_negatives(data, qb, k=3, metric="cos", strategy="crossjoin",
                          dist_scale=6)
    keyl = lambda df: [(r["query_id"], r["rank"], r["vec_id"], r["label"])
                       for r in df.orderBy("query_id", "rank").collect()]
    assert _blocks(hn) >= 2
    assert keyl(hn) == keyl(hw)
    for strategy in ("chunked", "auto"):
        with pytest.raises(ValueError, match="unknown strategy"):
            K.knn_join(data, fits, k=3, strategy=strategy)
        with pytest.raises(ValueError, match="unknown strategy"):
            K.hard_negatives(data, qb, k=3, strategy=strategy)


def test_chunked_edge_cases(spark, emb):
    q0 = emb.where("vec_id < 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = K.knn_join(emb, q0, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "vec_id", "distance", "rank"
    ]
    with pytest.raises(ValueError, match="chunk_size must be"):
        K.knn_join(emb, q0, k=3, chunk_size=0)
    with pytest.raises(ValueError, match="hash-imbalance margin"):
        K.knn_join(emb, q0, k=3, chunk_size=K.MAX_COLLECTED_QUERIES)


def test_chunked_releases_query_cache(spark, emb):
    """The block loop persists the narrow query projection; the returned
    plan must not keep it cached (broadcasts carry the vectors)."""
    sc = spark.sparkContext
    n_cached = lambda: sc._jsc.sc().getPersistentRDDs().size()
    before = n_cached()
    q = emb.where("vec_id < 6").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    K.knn_join(emb.where("vec_id >= 6"), q, k=3, chunk_size=2).count()
    assert n_cached() <= before


def test_default_path_job_budget(spark, emb):
    """A bounded query side costs what the single-block plan always cost: on
    4 parquet-backed queries, building and collecting the default knn_join
    or hard_negatives runs at most 4 Spark jobs (query collect, kernel scan,
    finishing exchange) and leaves nothing persisted."""
    sc = spark.sparkContext
    n_cached = lambda: sc._jsc.sc().getPersistentRDDs().size()
    before = n_cached()
    q = emb.where("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    data = emb.where("vec_id >= 4")
    runs = {
        "knn_join": lambda: K.knn_join(data, q.drop("query_label"), k=5, metric="cos"),
        "hard_negatives": lambda: K.hard_negatives(data, q, k=5, metric="cos"),
    }
    prev = sc.getLocalProperty("spark.jobGroup.id")
    for name, build in runs.items():
        group = f"job-budget-{name}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            assert len(build().collect()) == 4 * 5
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4, name
    assert n_cached() <= before


def test_knn_matches_numpy_bruteforce(spark, emb):
    rows = emb.orderBy("vec_id").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = emb.where("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = [
        r["vec_id"]
        for r in K.knn_join(emb, q, k=5, metric="l2sq").orderBy("rank").collect()
    ]
    d = ((X - X[0]) ** 2).sum(axis=1)
    expect = ids[np.lexsort((ids, d))][:5].tolist()
    assert got == expect


def test_topk_single_query(emb):
    first = emb.where("vec_id = 0").first()["embedding"]
    out = K.topk(emb, list(first), k=3, metric="l2sq", vec_col="embedding").collect()
    assert out[0]["vec_id"] == 0 and out[0]["distance"] == pytest.approx(0.0, abs=1e-9)
    assert len(out) == 3


def test_ground_truth_and_recall(spark, emb):
    gt = K.ground_truth(emb, n_queries=5, k=4, metric="l2sq", seed=3)
    rows = gt.collect()
    assert len(rows) == 5
    # nearest neighbor of a vector is itself (distance 0)
    assert all(r["neighbors"][0] == r["id"] for r in rows)
    truth = gt.select("id", "neighbors")
    assert K.recall(truth, truth, 4) == 100.0
    # drop one neighbor from each -> recall 75, exactly, truncated not rounded
    broken = gt.select("id", F.slice("neighbors", 1, 3).alias("neighbors"))
    assert K.recall(truth, broken, 4) == 75.0


def test_ground_truth_sample_ignores_partitioning(spark):
    """The sample depends only on the ids: the same rows whatever the
    partitioning and whichever columns a caller projects."""
    rng = np.random.RandomState(0)
    df = spark.createDataFrame(
        [(i, rng.rand(4).tolist()) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    samples = set()
    for parts in (1, 3):
        gt = K.ground_truth(df.repartition(parts), n_queries=5, k=3, seed=42)
        samples.add(tuple(sorted(r["id"] for r in gt.select("id").collect())))
        samples.add(tuple(sorted(r["id"] for r in gt.collect())))
    assert len(samples) == 1 and len(samples.pop()) == 5


def test_recall_counts_unanswered_queries(spark):
    """A truth query the result never answered scores 0 hits, not absent."""
    t = spark.createDataFrame([(1, [1, 2, 3]), (2, [4, 5, 6])],
                              "id long, neighbors array<long>")
    r = spark.createDataFrame([(1, [1, 2, 3])], "id long, neighbors array<long>")
    assert K.recall(t, r, 3) == 50.0
    assert K.recall(t, r.limit(0), 3) == 0.0


def test_recall_truncates_two_dp(spark):
    # 2/3 recall over k=3 = 66.666..% -> truncation gives 66.66 (reference
    # index_autotune/mod.rs:249-252 truncates, not rounds)
    t = spark.createDataFrame([(1, [1, 2, 3])], "id long, neighbors array<long>")
    r = spark.createDataFrame([(1, [1, 2, 9])], "id long, neighbors array<long>")
    assert K.recall(t, r, 3) == 66.66


def test_bad_metric_raises_eagerly(emb):
    q = emb.limit(1).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    with pytest.raises(ValueError, match="unknown metric"):
        K.knn_join(emb, q, metric="euclid")


def _hn_queries(emb):
    return emb.where("vec_id < 4").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )


def test_hard_negatives_partial_equals_crossjoin(spark, emb):
    q = _hn_queries(emb)
    data = emb.where("vec_id >= 4")
    a = K.hard_negatives(data, q, k=7, metric="cos", strategy="partial", dist_scale=6)
    b = K.hard_negatives(data, q, k=7, metric="cos", strategy="crossjoin", dist_scale=6)
    key = lambda df: [
        (r["query_id"], r["rank"], r["vec_id"], r["label"])
        for r in df.orderBy("query_id", "rank").collect()
    ]
    ra, rb = key(a), key(b)
    assert ra == rb and len(ra) == 4 * 7


def test_hard_negatives_chunked_equals_crossjoin(spark, emb, monkeypatch):
    """Negative mining for a full training set: a query side above the
    (shrunken) driver cap routes to hash-split blocks on the default path
    and must reproduce the declarative answer exactly, labels included."""
    monkeypatch.setattr(K, "MAX_COLLECTED_QUERIES", 8)
    q = emb.where("vec_id < 12").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    data = emb.where("vec_id >= 12")
    a = K.hard_negatives(data, q, k=4, metric="cos", dist_scale=6, chunk_size=4)
    b = K.hard_negatives(data, q, k=4, metric="cos", strategy="crossjoin",
                         dist_scale=6)
    key = lambda df: [
        (r["query_id"], r["rank"], r["vec_id"], r["label"])
        for r in df.orderBy("query_id", "rank").collect()
    ]
    ra, rb = key(a), key(b)
    assert _blocks(a) >= 2
    assert ra == rb and len(ra) > 0
    # empty-queries edge keeps the full 5-column schema (chunk_size must
    # respect the monkeypatched cap's margin here too)
    q0 = q.where("query_id < 0")
    out = K.hard_negatives(data, q0, k=3, chunk_size=4)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "vec_id", "label", "distance", "rank"
    ]


def test_hard_negatives_excludes_query_label_and_beats_postfilter(spark, emb):
    q = _hn_queries(emb)
    data = emb.where("vec_id >= 4")
    qlab = {r["query_id"]: r["query_label"] for r in q.collect()}
    out = K.hard_negatives(data, q, k=5, metric="cos", strategy="partial").collect()
    assert all(r["label"] != qlab[r["query_id"]] for r in out)
    # filter-before-rank: every returned set equals the top-5 of the
    # label-filtered brute force (a post-filtered plain kNN can return fewer)
    X = {r["vec_id"]: (np.array(r["embedding"], dtype=float), r["label"]) for r in data.collect()}
    for qr in q.collect():
        qv = np.array(qr["query_vec"], dtype=float)
        cand = []
        for vid, (v, lab) in X.items():
            if lab == qr["query_label"]:
                continue
            d = 1.0 - float(v @ qv) / (np.linalg.norm(v) * np.linalg.norm(qv))
            cand.append((d, vid))
        want = [vid for _, vid in sorted(cand, key=lambda t: (round(t[0], 9), t[1]))[:5]]
        got = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"]) if r["query_id"] == qr["query_id"]]
        assert got == want, qr["query_id"]


def test_hard_negatives_null_labels_dropped(spark):
    data = spark.createDataFrame(
        [(1, [1.0, 0.0], 7), (2, [0.9, 0.1], None), (3, [0.0, 1.0], 8)],
        "vec_id long, embedding array<double>, label int",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0], 7)], "query_id long, query_vec array<double>, query_label int"
    )
    for strat in ("partial", "crossjoin"):
        got = K.hard_negatives(data, q, k=5, metric="cos", strategy=strat).collect()
        # vec 1 shares the label, vec 2 has none -> only vec 3 qualifies
        assert [r["vec_id"] for r in got] == [3], strat
