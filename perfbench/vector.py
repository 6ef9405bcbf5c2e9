"""`vector`: embed and serve a text column, then build and batch-search IVF,
PQ and HNSW indexes over clustered 64-d vectors, with exact kNN as the
answer key.

A round:
1. embeds the texts (`embeddings.create_embeddings`, `hash` runtime);
2. publishes a slice of them to a collection behind
   `serving.http_api.CollectionServer` (PUT) and reads one back with a
   vector search and a text search over HTTP;
3. runs the exact `knn.knn_join`;
4. builds and searches IVF, PQ and HNSW (all queries in one batch each).
HNSW indexes a prefix of the corpus: its pure-Python graph build costs ~40x
more per row than the IVF/PQ builds. Unit operation: a round's batched
searches (exact + three indexes).
"""

from __future__ import annotations

import http.client
import json
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, inputs
from perfbench.harness import median, parquet_files, read_parquet

SIZES = {
    "full": {"texts": 4000, "publish": 400, "base": 4000, "hnsw": 800, "queries": 200},
    "tiny": {"texts": 300, "publish": 50, "base": 800, "hnsw": 200, "queries": 10},
}
K = 10
NLIST, NPROBE = 16, 4
PQ_SPLITS, PQ_CENTROIDS, PQ_TRAIN_ROWS = 32, 64, 2000
HNSW_SHARDS, HNSW_EF = 4, 64
COLLECTION = "texts"


def generate(run):
    s = SIZES[run.size]
    v = inputs.vector_inputs(run.seed, s["texts"], s["base"], s["hnsw"], s["queries"])
    ids, texts = zip(*v.texts)
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()), "text": texts}),
                   run.path("input", "texts.parquet"))
    base_ids = np.arange(1, len(v.base) + 1, dtype=np.int64)
    pq.write_table(pa.table({"vec_id": base_ids,
                             "embedding": pa.array(list(v.base), pa.list_(pa.float32()))}),
                   run.path("input", "base.parquet"))
    v.publish = s["publish"]
    v.truth = checks.exact_topk(v.base, base_ids, v.queries, K)
    v.truth_hnsw = checks.exact_topk(v.base[:v.n_hnsw], base_ids[:v.n_hnsw], v.queries, K)
    v.qlist = [(i, [float(x) for x in q]) for i, q in enumerate(v.queries)]
    v.probe_rng = inputs.rng_for(run.seed, "probes")
    v.verify_queries = inputs.clustered(run.seed, 3, 16, stream="verify")
    run.info["inputs"] = {**v.props(), "published": v.publish}
    return v


class Client:
    """One keep-alive HTTP connection; every call is a `serving` span."""

    def __init__(self, run, port: int, state: dict):
        self.run, self.state = run, state
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        self.latency: dict[str, list[float]] = {}
        self.requests = 0

    def call(self, kind: str, method: str, path: str, body: dict):
        data = json.dumps(body).encode()
        self.requests += 1
        t = time.perf_counter()
        with self.run.span(f"serving.{kind}", "serving", "exec", request_id=self.requests,
                           adopt_ungrouped=True) as sp:
            self.state["request"] = sp
            self.conn.request(method, path, body=data,
                              headers={"Content-Type": "application/json"})
            resp = self.conn.getresponse()
            payload = json.loads(resp.read() or b"null")
        self.latency.setdefault(kind, []).append((time.perf_counter() - t) * 1e3)
        self.run.attempted += 1
        if resp.status != 200:
            self.run.failed += 1
            raise RuntimeError(f"{method} {path}: HTTP {resp.status} {payload}")
        return payload

    def search(self, kind: str, collection: str, **query) -> list[int]:
        body = {"k": K, "metric": "l2sq", "select": "id", **query}
        rows = self.call(kind, "POST", f"/collections/{collection}/search", body)["rows"]
        return [int(r["id"]) for r in rows]


def _trace_store(run, store, state: dict) -> None:
    """Traced runs only: wrap this server's store so the calls its handler
    threads make into the collections layer get their own spans, parented to
    the request in flight."""
    for name, kind in (("insert", "exec"), ("search", "construct")):
        def wrapped(*a, _fn=getattr(store, name), _name=name, _kind=kind, **kw):
            with run.span(f"collections.{_name}", "collections", _kind,
                          parent=state.get("request")):
                return _fn(*a, **kw)
        setattr(store, name, wrapped)


def prepare(run, spark, v, index):
    from lantern_extras_spark.serving.http_api import CollectionServer

    state = {"root": run.path(f"vector/set{index}/collections")}
    state["server"] = CollectionServer(spark, state["root"]).start()
    if run.tracer.enabled:
        _trace_store(run, state["server"].store, state)
    state["client"] = Client(run, state["server"].port, state)
    return state


def _ranked(rows, nq: int) -> list[list[int]]:
    """Collected (query_id, vec_id, ..., rank) rows as per-query id lists."""
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append((int(r["rank"]), int(r["vec_id"])))
    return [[i for _, i in sorted(by_q.get(q, []))] for q in range(nq)]


def _serve(run, v, state, emb, collection: str) -> dict:
    """Publish the first `v.publish` embedded texts and read one back."""
    client = state["client"]
    with run.span("collections.create", "collections", "exec"):
        state["server"].store.create_collection(collection)
    with run.span("embeddings.collect", "embeddings", "exec"):
        rows = emb.where(f"id <= {v.publish}").select("id", "text", "emb").collect()
    client.call("insert", "PUT", f"/collections/{collection}", {"rows": [
        {"id": r["id"], "vector": [float(x) for x in r["emb"]], "data": r["text"]}
        for r in rows]})
    probe = rows[int(v.probe_rng.integers(0, len(rows)))]
    return {"probe": probe["id"],
            "by_vec": client.search("search", collection,
                                    query_vector=[float(x) for x in probe["emb"]])[:1],
            "by_text": client.search("text_search", collection,
                                     query_text=probe["text"])[:1]}


def _round(run, spark, v, state, k: int) -> dict:
    from pyspark.sql import functions as F

    from lantern_extras_spark.embeddings.pipeline import create_embeddings
    from lantern_extras_spark.operators import hnsw, ivf, knn
    from lantern_extras_spark.operators import pq as pqop

    out = run.path(f"vector/round{k}")
    n, nq = len(v.base), len(v.qlist)
    r = {"collection": f"{COLLECTION}{k}"}
    texts = spark.read.parquet(run.path("input", "texts.parquet"))
    base = spark.read.parquet(run.path("input", "base.parquet"))

    with run.span("embeddings.create", "embeddings", "construct"):
        emb, _usage = create_embeddings(texts, "text", "emb")
    with run.span("embeddings.write", "embeddings", "exec"):
        emb.write.parquet(f"{out}/emb")
    r["serve"] = _serve(run, v, state, spark.read.parquet(f"{out}/emb"), r["collection"])
    with run.span("ivf.build", "ivf", "construct"):
        indexed, centroids = ivf.build_ivf(base, nlist=NLIST, total_rows=n)
    with run.span("ivf.write", "ivf", "exec"):
        indexed.write.partitionBy("cell").parquet(f"{out}/ivf")
    with run.span("pq.build", "pq", "construct"):
        codebook = pqop.build_codebook(base, splits=PQ_SPLITS, k=PQ_CENTROIDS,
                                       max_train_rows=PQ_TRAIN_ROWS, total_rows=n)
        codes = pqop.quantize(base, codebook, dim=v.base.shape[1])
    with run.span("pq.write", "pq", "exec"):
        codes.select("vec_id", "pqvec").write.parquet(f"{out}/pq")
    with run.span("hnsw.build", "hnsw", "construct"):
        shards = hnsw.build_hnsw_shards(base.where(F.col("vec_id") <= v.n_hnsw),
                                        n_shards=HNSW_SHARDS, metric="l2sq")
    with run.span("hnsw.write", "hnsw", "exec"):
        shards.write.parquet(f"{out}/hnsw")
    t0 = time.perf_counter()

    qdf = spark.createDataFrame(v.qlist, "query_id long, query_vec array<double>")
    with run.span("knn.join", "knn", "construct"):
        nn = knn.knn_join(base, qdf, k=K, metric="l2sq")
    with run.span("knn.collect", "knn", "exec"):
        r["knn"] = _ranked(nn.collect(), nq)
    with run.span("ivf.search", "ivf", "construct"):
        res = ivf.ivf_topk_batch(spark.read.parquet(f"{out}/ivf"), centroids, v.qlist,
                                 k=K, nprobe=NPROBE)
    with run.span("ivf.collect", "ivf", "exec"):
        r["ivf"] = _ranked(res.collect(), nq)
    with run.span("pq.search", "pq", "construct"):
        res = pqop.adc_topk_batch(spark.read.parquet(f"{out}/pq"), codebook, v.qlist, k=K)
    with run.span("pq.collect", "pq", "exec"):
        r["pq"] = _ranked(res.collect(), nq)
    with run.span("hnsw.search", "hnsw", "construct"):
        res = hnsw.hnsw_topk_batch(spark.read.parquet(f"{out}/hnsw"), v.qlist, k=K,
                                   ef=HNSW_EF)
    with run.span("hnsw.collect", "hnsw", "exec"):
        r["hnsw"] = _ranked(res.collect(), nq)
    r["search_ms"] = (time.perf_counter() - t0) * 1e3
    return r


def measure(run, spark, v, state) -> None:
    deadline = run.deadline()
    rounds = []
    round_ms = []
    while not rounds or time.perf_counter() < deadline:
        t = time.perf_counter()
        with run.span("vector.round"):
            rounds.append(_round(run, spark, v, state, len(rounds)))
        round_ms.append((time.perf_counter() - t) * 1e3)
        run.attempted += 1
    run.rounds = len(rounds)
    state["last"] = rounds[-1]
    rows = len(v.texts) + v.publish + 2 * len(v.base) + v.n_hnsw
    search_ms = [r["search_ms"] for r in rounds]
    run.values["rows_per_s"] = rows / (median(round_ms) / 1e3)
    run.values["op_p50_ms"] = median(search_ms)
    run.report("rows_per_s", run.values["rows_per_s"], "1/s", n=len(rounds))
    run.report("queries_per_s", 4 * len(v.qlist) / (median(search_ms) / 1e3), "1/s",
               n=len(rounds))
    run.report_latency("search_round", search_ms)
    latency = state["client"].latency
    for kind, samples in latency.items():
        run.report_latency(kind, samples)
    n_req = sum(len(s) for s in latency.values())
    run.report("req_per_s", n_req / (sum(sum(s) for s in latency.values()) / 1e3), "1/s",
               n=n_req)


def verify(run, spark, v, state) -> None:
    r = state["last"]
    want_ids, want_d = v.truth
    bad = checks.same_topk(r["knn"], want_ids, want_d)
    run.check("knn_join_equals_numpy_exact", bad == 0,
              f"{bad} of {len(v.qlist)} queries differ")
    recalls = {
        "ivf": checks.recall_at_k(r["ivf"], want_ids),
        "pq": checks.recall_at_k(r["pq"], want_ids),
        "hnsw": checks.recall_at_k(r["hnsw"], v.truth_hnsw[0]),
    }
    for name, rec in recalls.items():
        run.layer_extra[f"{name}.recall_at_10"] = rec
        run.report(f"{name}_recall_at_10", rec, "frac", n=len(v.qlist))
    short = [name for name in recalls if any(len(ids) != K for ids in r[name])]
    run.check("every_index_answers_every_query", not short, f"short answers from {short}")
    run.values["recall"] = min(recalls.values())
    run.report("recall_at_10", run.values["recall"], "frac", n=len(v.qlist))

    # serving: the collection holds exactly what was PUT, embedded as the
    # documented hash runtime says, and search answers as numpy does
    s = r["serve"]
    run.check("search_finds_inserted_doc", s["by_vec"] == [s["probe"]] == s["by_text"],
              f"probe {s['probe']}: by vector {s['by_vec']}, by text {s['by_text']}")
    coll_dir = f"{state['root']}/{r['collection']}"
    coll = read_parquet(coll_dir, ["id", "vector"])
    ids = np.array(coll.column("id").to_pylist(), dtype=np.int64)
    texts = dict(v.texts)
    run.check("collection_holds_published_rows",
              sorted(ids.tolist()) == list(range(1, v.publish + 1)),
              f"{len(ids)} rows for {v.publish} published")
    stored = np.array(coll.column("vector").to_pylist(), dtype=np.float32)
    want = np.stack([checks.hash_embedding(texts[int(i)]) for i in ids])
    run.check("embeddings_equal_hash_runtime", np.allclose(stored, want, atol=1e-6),
              f"max abs diff {float(np.abs(stored - want).max()):.2e}")
    got = [state["client"].search("verify", r["collection"], query_vector=[float(x) for x in q])
           for q in v.verify_queries]
    w_ids, w_d = checks.exact_topk(want, ids, v.verify_queries, K)
    bad = checks.same_topk(got, w_ids, w_d)
    run.check("search_equals_numpy_over_inserted", bad == 0,
              f"{bad} of {len(got)} verification searches differ")
    run.layer_extra["collections.files"] = len(parquet_files(coll_dir))
    if run.tracer.enabled:
        run.layer_extra.update(_serving_extras(run))


def _serving_extras(run) -> dict:
    """Per request of the measured phase: Spark jobs and job time of the
    request and the collections calls it made, and the rest of its latency."""
    spans = [s for s in run.tracer.spans if s["phase"] == "measure"]
    children: dict[int, list] = {}
    for s in spans:
        if s["layer"] == "collections" and s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    jobs, spark_ms, overhead = [], [], []
    for req in (s for s in spans if s["layer"] == "serving"):
        parts = [req, *children.get(req["id"], [])]
        ms = sum(p["spark"]["spark_ms"] for p in parts)
        jobs.append(sum(p["spark"]["jobs"] for p in parts))
        spark_ms.append(ms)
        overhead.append(req["end_ms"] - req["start_ms"] - ms)
    n = max(len(jobs), 1)
    return {"serving.jobs_per_req": sum(jobs) / n,
            "serving.spark_ms_per_req": sum(spark_ms) / n,
            "serving.overhead_ms_per_req": sum(overhead) / n}


def teardown(state) -> None:
    state["client"].conn.close()
    state["server"].stop()
