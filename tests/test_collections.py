"""Collections API (H1–H5 analog) + sinks (S11 CSV, A6 json packing) + daemon
orchestration (D6/D7/D8)."""

import glob
import json

import pytest
from pyspark.sql import functions as F

from lantern_extras_spark.collections import CollectionStore
from lantern_extras_spark.sources.sinks import export_embeddings_csv, json_agg, json_object_agg


@pytest.fixture()
def store(spark, tmp_path):
    return CollectionStore(spark, str(tmp_path / "collections"))


def test_collection_crud(store):
    store.create_collection("articles")
    assert store.list_collections() == ["articles"]
    with pytest.raises(ValueError, match="already exists"):
        store.create_collection("articles")
    info = store.get_collection("articles")
    assert info["rows"] == 0
    assert info["schema"]["vector"] == "array<float>"
    store.delete_collection("articles")
    assert store.list_collections() == []
    with pytest.raises(ValueError, match="no such"):
        store.read("articles")


def test_insert_auto_ids_and_metadata(store):
    store.create_collection("c")
    n = store.insert("c", [
        {"vector": [1.0, 0.0, 0.0], "data": "a", "metadata": {"k": 1}},
        {"vector": [0.0, 1.0, 0.0], "data": "b"},
    ])
    assert n == 2
    rows = {r["id"]: r for r in store.read("c").collect()}
    assert set(rows) == {1, 2}
    assert json.loads(rows[1]["metadata"]) == {"k": 1}
    store.insert("c", [{"vector": [0.0, 0.0, 1.0], "data": "c"}])
    assert store.read("c").agg(F.max("id")).first()[0] == 3


def test_concurrent_insert_assigns_unique_ids(store, monkeypatch):
    """CollectionServer serves requests on concurrent threads: two id-less
    inserts into one collection must not both read the same max(id)."""
    import threading

    store.create_collection("c")
    # both inserts reach their max(id) read before either appends, unless
    # the store serializes them (then the barrier times out and each
    # insert proceeds alone)
    barrier = threading.Barrier(2, timeout=2)
    read = store.read

    def racing_read(name):
        try:
            barrier.wait()
        except threading.BrokenBarrierError:
            pass
        return read(name)

    monkeypatch.setattr(store, "read", racing_read)
    errors = []

    def put(tag):
        try:
            store.insert("c", [{"vector": [1.0], "data": f"{tag}{i}"} for i in range(3)])
        except Exception as e:  # surfaced below; a thread swallows it otherwise
            errors.append(e)

    threads = [threading.Thread(target=put, args=(t,)) for t in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    ids = [r["id"] for r in read("c").collect()]
    assert len(ids) == 6
    assert len(set(ids)) == 6, sorted(ids)


def test_search_exact_zero_row(store):
    """FIXTURES.md §5: an exact-zero query must return the zero row first with
    distance 0."""
    store.create_collection("s")
    store.insert("s", [
        {"vector": [0.0, 0.0, 0.0], "data": "zero"},
        {"vector": [1.0, 2.0, 3.0], "data": "far"},
    ])
    top = store.search("s", query_vec=[0.0, 0.0, 0.0], k=2).collect()
    assert top[0]["data"] == "zero" and top[0]["distance"] == 0.0


def test_search_by_text_semantics(store):
    """H5: query_text embedded with the same model ranks the identical document
    first (the engine-level form of the reference's semantic-search test)."""
    from lantern_extras_spark.embeddings.runtimes import HashRuntime

    rt = HashRuntime("hash/test-model")
    weather = rt.process(["Weather is nice today"]).embeddings[0]
    car = rt.process(["The car is red"]).embeddings[0]
    store.create_collection("sem", schema="id bigint, vector array<float>, data string, metadata string")
    store.insert("sem", [
        {"vector": weather, "data": "weather"},
        {"vector": car, "data": "car"},
    ])
    top = store.search("sem", query_text="Weather is nice today", k=1, metric="cos").first()
    assert top["data"] == "weather"
    with pytest.raises(ValueError, match="exactly one"):
        store.search("sem")


def test_csv_sink_brace_format(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, [1.5, -2.0]), (2, [0.25, 3.0])], "id long, emb array<float>"
    )
    out = str(tmp_path / "csv")
    export_embeddings_csv(df, out, pk="id", vec_col="emb", single_file=True)
    text = open(glob.glob(f"{out}/part-*.csv")[0]).read().strip().splitlines()
    rows = dict(line.split(",", 1) for line in sorted(text))
    assert rows["1"] == '"{1.5,-2.0}"'


def test_json_agg(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "g int, v string")
    out = {r["g"]: json.loads(r["rows"]) for r in json_agg(df, ["g"]).collect()}
    assert sorted(x["v"] for x in out[1]) == ["a", "b"]
    obj = json.loads(json_object_agg(spark.createDataFrame(
        [("k1", "v1"), ("k2", "v2")], "k string, v string"), "k", "v").first()["obj"])
    assert obj == {"k1": "v1", "k2": "v2"}


def test_daemon_label_routing_and_retry(spark, tmp_path):
    from lantern_extras_spark.jobs import JobStore
    from lantern_extras_spark.streaming.daemon import EmbeddingDaemon

    jstore = JobStore(spark, str(tmp_path / "jobs"))
    src = spark.createDataFrame([(i, f"text {i}") for i in range(5)], "id long, title string")
    j_plain = jstore.add_embedding_job("t", "title", "emb", pk="id")
    j_gpu = jstore.add_embedding_job("t", "title", "emb", pk="id", label="gpu")
    j_cancel = jstore.add_embedding_job("t", "title", "emb", pk="id")
    jstore.cancel_embedding_job(j_cancel)
    j_bad = jstore.add_embedding_job("missing_table", "title", "emb", pk="id")

    d = EmbeddingDaemon(jstore, {"t": src}, label=None)
    rep = d.run_once()
    assert rep.ran == [j_plain]
    assert j_gpu in rep.skipped_label  # D8: label mismatch not claimed
    # D7: canceled jobs are not claimable at all
    all_touched = rep.ran + rep.skipped_label + rep.skipped_canceled + rep.failed
    assert j_cancel not in all_touched
    assert j_bad in rep.failed
    assert jstore.get_embedding_job_status(j_plain)["status"] == "enabled"
    assert jstore.get_embedding_job_status(j_bad)["status"] == "failed"
    assert d.results[j_plain].where("emb is not null").count() == 5

    d_gpu = EmbeddingDaemon(jstore, {"t": src}, label="gpu")
    rep2 = d_gpu.run_once()
    assert rep2.ran == [j_gpu]

    # D6: failed job retried once after the source appears, then succeeds
    d_fixed = EmbeddingDaemon(jstore, {"t": src, "missing_table": src}, label=None)
    rep3 = d_fixed.run_once()
    assert j_bad in rep3.ran
    assert jstore.get_embedding_job_status(j_bad)["status"] == "enabled"


def test_collection_name_traversal_rejected(store):
    """ADVICE r7 (high): '.'/'..'/separator names must be refused at _path —
    otherwise DELETE /collections/.. rmtrees the PARENT of the store root."""
    for bad in ("..", ".", "...", "a/b", "a\\b", "", "a b", "a:b", "../x"):
        with pytest.raises(ValueError, match="invalid collection name|escapes"):
            store._path(bad)
    # benign names (incl. dots inside) still resolve
    for ok in ("docs", "my-coll_2", "v1.2"):
        assert store._path(ok).endswith(ok)


def test_delete_traversal_cannot_escape_root(spark, tmp_path):
    import os

    from lantern_extras_spark.collections import CollectionStore

    parent = tmp_path / "outer"
    root = parent / "colls"
    store = CollectionStore(spark, str(root))
    sentinel = parent / "precious.txt"
    sentinel.write_text("keep me")
    with pytest.raises(ValueError):
        store.delete_collection("..")
    assert sentinel.exists() and parent.exists()
