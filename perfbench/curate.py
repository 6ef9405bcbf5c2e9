"""`curate`: batch curation of a seeded corpus, then incremental dedup of
the next arrivals against it.

A pass runs five stages, each ending in a write:
1. clean + quality + language + Gopher (functions.text, operators.textstats);
2. exact dedup, MinHash pairs, clusters, keep-best (operators.dedup);
3. decontamination against an eval set (operators.dedup);
4. token-balanced shards (sources.sinks);
5. the incremental daemon step (streaming.stateful.ingest_dedup_batch): the
   curated survivors seed the signature store as epoch 0, then three
   micro-batches of arrivals carrying copies of curated docs are matched
   against the growing store.
`rows_per_s` counts a whole pass; `op_p50_ms` times stage 5, the part a
daemon repeats per arrival.
"""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, inputs
from perfbench.harness import median, parquet_files, read_parquet

SIZES = {"full": {"docs": 1000, "arrivals": 300}, "tiny": {"docs": 200, "arrivals": 60}}
ARRIVAL_BATCHES = 3  # micro-batches per pass; the store grows with each
THRESHOLD = 0.8  # minhash_dedup's and ingest_dedup_batch's default
DECON_THRESHOLD = 0.5


def _write(path: str, rows) -> None:
    ids, texts = zip(*rows)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), path)


def generate(run):
    s = SIZES[run.size]
    c = inputs.corpus(run.seed, s["docs"])
    c.arrivals = inputs.arrivals(run.seed, c, s["arrivals"])
    _write(run.path("input", "corpus.parquet"), c.docs)
    _write(run.path("input", "eval.parquet"), c.eval_items)
    per = -(-len(c.arrivals.docs) // ARRIVAL_BATCHES)
    for b in range(ARRIVAL_BATCHES):
        _write(run.path("input", f"arrivals_{b}.parquet"), c.arrivals.docs[b * per:(b + 1) * per])
    run.info["inputs"] = {**c.props(), "arrivals": c.arrivals.props()}
    return c


def prepare(run, spark, corpus, index):
    return {}


def _pass(run, spark, out: str) -> tuple[float, list[float]]:
    """One pass; returns the incremental stage's latency and its arrival
    micro-batch latencies, in ms."""
    from pyspark.sql import functions as F

    from lantern_extras_spark.functions.text import clean_text
    from lantern_extras_spark.operators import dedup, textstats
    from lantern_extras_spark.sources.sinks import write_corpus_shards
    from lantern_extras_spark.streaming.stateful import ingest_dedup_batch

    docs = spark.read.parquet(run.path("input", "corpus.parquet"))
    with run.span("textstats.build", "textstats", "construct"):
        df = docs.withColumn("text", clean_text("text"))
        df = textstats.gopher_filter(textstats.language_id(textstats.quality_metrics(df)))
    with run.span("textstats.write", "textstats", "exec"):
        df.select("doc_id", "text", "quality_score", "lang_pred", "gopher_keep") \
            .write.parquet(f"{out}/stage1")
    kept = spark.read.parquet(f"{out}/stage1").where(
        F.col("gopher_keep") & (F.col("lang_pred") == "en"))

    with run.span("dedup.exact", "dedup", "construct"):
        ex = dedup.exact_dedup(kept)
    with run.span("dedup.exact.write", "dedup", "exec"):
        ex.select("doc_id", "text", "quality_score", "is_duplicate").write.parquet(f"{out}/exact")
    uniq = spark.read.parquet(f"{out}/exact").where(~F.col("is_duplicate")).drop("is_duplicate")
    with run.span("dedup.minhash", "dedup", "construct"):
        pairs = dedup.minhash_dedup(uniq, threshold=THRESHOLD)
    with run.span("dedup.minhash.write", "dedup", "exec"):
        pairs.write.parquet(f"{out}/pairs")
    pairs = spark.read.parquet(f"{out}/pairs")
    with run.span("dedup.clusters", "dedup", "construct"):
        clusters = dedup.dedup_clusters(pairs)
    with run.span("dedup.clusters.write", "dedup", "exec"):
        clusters.write.parquet(f"{out}/clusters")
    with run.span("dedup.keep_best", "dedup", "construct"):
        best = dedup.dedup_keep_best(uniq, pairs, "quality_score")
    with run.span("dedup.keep_best.write", "dedup", "exec"):
        best.select("doc_id", "text", "cluster_id", "is_kept").write.parquet(f"{out}/best")

    survivors = spark.read.parquet(f"{out}/best").where("is_kept").select("doc_id", "text")
    evals = spark.read.parquet(run.path("input", "eval.parquet"))
    with run.span("dedup.decontaminate", "dedup", "construct"):
        clean = dedup.decontaminate(survivors, evals, threshold=DECON_THRESHOLD, mode="drop")
    with run.span("dedup.decontaminate.write", "dedup", "exec"):
        clean.write.parquet(f"{out}/clean")
    with run.span("sinks.write_corpus_shards", "sinks", "exec"):
        write_corpus_shards(spark.read.parquet(f"{out}/clean"), f"{out}/shards",
                            tokens_per_shard=50_000)

    t_inc = time.perf_counter()
    with run.span("stateful.seed_store", "stateful", "exec"):
        ingest_dedup_batch(spark.read.parquet(f"{out}/clean"), 0, f"{out}/inc_out",
                           f"{out}/inc_store", threshold=THRESHOLD)
    batch_ms = []
    for b in range(ARRIVAL_BATCHES):
        arrivals = spark.read.parquet(run.path("input", f"arrivals_{b}.parquet"))
        t = time.perf_counter()
        with run.span("stateful.arrivals", "stateful", "exec"):
            ingest_dedup_batch(arrivals.withColumn("text", clean_text("text")), b + 1,
                               f"{out}/inc_out", f"{out}/inc_store", threshold=THRESHOLD)
        batch_ms.append((time.perf_counter() - t) * 1e3)
    return (time.perf_counter() - t_inc) * 1e3, batch_ms


def measure(run, spark, corpus, state) -> None:
    deadline = run.deadline()
    pass_ms, incremental_ms, batch_ms = [], [], []
    while not pass_ms or time.perf_counter() < deadline:
        state["out"] = run.path(f"curate/pass{len(pass_ms)}")
        t = time.perf_counter()
        with run.span("curate.pass"):
            inc, batches = _pass(run, spark, state["out"])
        pass_ms.append((time.perf_counter() - t) * 1e3)
        incremental_ms.append(inc)
        batch_ms += batches
        run.attempted += 1
    run.rounds = len(pass_ms)
    n = len(corpus.docs) + len(corpus.arrivals.docs)
    run.values["rows_per_s"] = n / (median(pass_ms) / 1e3)
    run.values["op_p50_ms"] = median(incremental_ms)
    run.report("rows_per_s", run.values["rows_per_s"], "1/s", n=len(pass_ms))
    run.report_latency("pass", pass_ms)
    run.report_latency("incremental", incremental_ms)
    run.report_latency("batch", batch_ms)


def _ids(path: str, where: str | None = None) -> list[int]:
    t = read_parquet(path).to_pandas()
    if where:
        t = t.query(where)
    return t["doc_id"].tolist()


def verify(run, spark, corpus, state) -> None:
    """Program-independent checks (pyarrow reads, pure-Python Jaccard) on the
    last pass's outputs."""
    out = state["out"]
    all_ids = [d[0] for d in corpus.docs]
    filtered = _ids(f"{out}/stage1", "not (gopher_keep and lang_pred == 'en')")
    exact_dropped = _ids(f"{out}/exact", "is_duplicate")
    near_dropped = _ids(f"{out}/best", "not is_kept")
    after_dedup = _ids(f"{out}/best", "is_kept")
    survivors = _ids(f"{out}/clean")
    decon_dropped = sorted(set(after_dedup) - set(survivors))
    run.check(*checks.partition(all_ids, {
        "filtered": filtered, "exact_dup": exact_dropped, "near_dup": near_dropped,
        "contaminated": decon_dropped, "survivors": survivors}))
    shard_ids = _ids(f"{out}/shards")
    run.check("shards_hold_survivors_once", sorted(shard_ids) == sorted(survivors),
              f"{len(shard_ids)} shard rows vs {len(survivors)} survivors")

    texts = {i: checks.clean_text(t) for i, t in corpus.docs}
    pairs = read_parquet(f"{out}/pairs").to_pylist()
    run.check(*checks.pairs_meet_threshold(
        [(p["id_a"], p["id_b"]) for p in pairs], texts, THRESHOLD))
    leaked = set(corpus.contaminated) & set(after_dedup)
    run.check("decontaminate_drops_planted_leaks", leaked <= set(decon_dropped),
              f"{len(leaked - set(decon_dropped))} of {len(leaked)} planted leaks kept")

    arrivals = corpus.arrivals
    arrival_ids = {i for i, _ in arrivals.docs}
    inc_ids = _ids(f"{out}/inc_out")
    store_rows = read_parquet(f"{out}/inc_store", ["doc_id"]).num_rows
    run.check("incremental_ids_unique", len(inc_ids) == len(set(inc_ids)),
              f"{len(inc_ids) - len(set(inc_ids))} duplicate ids in {len(inc_ids)} rows")
    run.check("incremental_store_rows_equal_survivors", store_rows == len(inc_ids),
              f"store {store_rows} vs survivors {len(inc_ids)}")
    run.check("incremental_survivors_from_input",
              set(inc_ids) <= set(survivors) | arrival_ids,
              f"{len(set(inc_ids) - set(survivors) - arrival_ids)} unknown ids")

    # duplicate recall: planted pairs at or above the threshold that no
    # longer both survive — batch pairs after dedup, arrival pairs after the
    # incremental step (counting only originals the store holds)
    batch_recall, n_batch = checks.dup_recall(corpus.planted, texts, THRESHOLD,
                                              set(_ids(f"{out}/exact")), set(after_dedup))
    texts |= {i: checks.clean_text(t) for i, t in arrivals.docs}
    held = set(inc_ids) - arrival_ids
    arr_recall, n_arr = checks.dup_recall(arrivals.planted, texts, THRESHOLD,
                                          held | arrival_ids, set(inc_ids))
    recall = (batch_recall * n_batch + arr_recall * n_arr) / max(n_batch + n_arr, 1)
    run.values["recall"] = recall
    run.report("dup_recall", recall, "frac", n=n_batch + n_arr)
    run.report("batch_dup_recall", batch_recall, "frac", n=n_batch)
    run.report("arrivals_dup_recall", arr_recall, "frac", n=n_arr)

    n_clusters = len(set(read_parquet(f"{out}/clusters", ["cluster_id"])
                         .column("cluster_id").to_pylist()))
    run.layer_extra.update({
        "dedup.pairs": len(pairs), "dedup.clusters": n_clusters,
        "stateful.store_rows": store_rows,
        "stateful.store_files": len(parquet_files(f"{out}/inc_store")),
    })
    if run.tracer.enabled:
        spans = [s for s in run.tracer.spans
                 if s["layer"] == "stateful" and s["phase"] == "measure"]
        run.layer_extra["stateful.input_bytes_per_batch"] = \
            sum(s["spark"]["input_bytes"] for s in spans) / max(len(spans), 1)
    run.info["outputs"] = {"survivors": len(survivors), "filtered": len(filtered),
                           "exact_dup": len(exact_dropped), "near_dup": len(near_dropped),
                           "contaminated": len(decon_dropped), "pairs": len(pairs),
                           "clusters": n_clusters, "incremental_survivors": len(inc_ids)}


def teardown(state) -> None:
    pass
