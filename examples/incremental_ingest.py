"""Incremental corpus ingestion — the batch → signature-store → next-batch loop.

A 100 TB corpus is not deduped in one job: batches arrive (crawl snapshots,
daily dumps), and each batch must be matched against everything already
accepted WITHOUT re-reading the accepted corpus. The state that makes this
possible is the MinHash signature store — (id, sig), ~256 bytes/doc at the
default 32 hashes — persisted as parquet (pre-bucket it on band_key at real
scale so the store side of the band join never shuffles).

Per batch:
  1. sign the batch once               minhash_signatures
  2. match batch vs store + in-batch   minhash_dedup_incremental
  3. drop keep-first losers            (id_b of every surviving pair)
  4. append the survivors' sigs        store <- store ∪ new survivors

Run: python examples/incremental_ingest.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lantern_extras_spark import get_spark
from lantern_extras_spark.operators import dedup as D

BATCH_1 = [
    (1, "the quick brown fox jumps over the lazy dog tonight"),
    (2, "spark shuffles data between stages and caches hot sets"),
    (3, "product quantization compresses vectors into byte codes"),
]
BATCH_2 = [
    (10, "the quick brown fox jumps over the lazy dog tonight"),   # dup of 1
    (11, "a genuinely new document about broadcast joins"),
    (12, "a genuinely new document about broadcast joins"),        # in-batch dup of 11
    (13, "spark shuffles data between stages and caches hot sets quickly"),  # near-dup of 2 (jaccard 7/8, sig estimate 0.97)
]


def ingest_batch(spark, store_path: str, batch, threshold: float = 0.35) -> dict:
    """One ingestion step: returns {'accepted': [...], 'dropped': {id: reason}}."""
    df = spark.createDataFrame(batch, "doc_id long, text string")
    new_sigs = D.minhash_signatures(df).select("doc_id", "sig")
    # no store yet is an empty store: the first batch takes the same path
    store = (spark.read.parquet(store_path) if os.path.exists(store_path)
             else spark.createDataFrame([], new_sigs.schema))
    pairs = D.minhash_dedup_incremental(df, store, threshold=threshold)
    dropped = {
        r["id_b"]: f"{r['vs']}:{r['id_a']}@{r['jaccard']:.2f}" for r in pairs.collect()
    }
    survivors = new_sigs.join(
        spark.createDataFrame([(i,) for i in dropped], "doc_id long"),
        "doc_id",
        "left_anti",
    ) if dropped else new_sigs
    survivors.write.mode("append").parquet(store_path)
    return {
        "accepted": sorted(r["doc_id"] for r in survivors.select("doc_id").collect()),
        "dropped": dropped,
    }


def ingest_semantic(spark, store_path: str, batch, centroids, threshold=0.95) -> dict:
    """The EMBEDDING-side twin of `ingest_batch` (dedup.semantic_dedup_incremental):
    the store holds (id, embedding, cell) survivors under ONE fixed centroid
    geometry — a batch assigns its own cells and only same-cell store rows are
    ever compared. Dropped reasons carry corpus/batch provenance."""
    from lantern_extras_spark.operators.ivf import assign_cells

    df = assign_cells(
        spark.createDataFrame(batch, "vec_id long, embedding array<double>"),
        centroids,
    )
    if os.path.exists(store_path):
        store = spark.read.parquet(store_path)
        flagged = D.semantic_dedup_incremental(df, store, centroids, threshold=threshold)
    else:
        flagged = D.semantic_dedup(df, threshold=threshold).withColumn("vs", F.lit("batch"))
    dropped = {
        r["dup_id"]: f"{r['vs']}:{r['dup_of']}@{r['cosine']:.2f}"
        for r in flagged.collect()
    }
    survivors = df.join(
        spark.createDataFrame([(i,) for i in dropped], "vec_id long"), "vec_id", "left_anti"
    ) if dropped else df
    survivors.write.mode("append").parquet(store_path)
    return {
        "accepted": sorted(r["vec_id"] for r in survivors.select("vec_id").collect()),
        "dropped": dropped,
    }


def main() -> dict:
    spark = get_spark("incremental-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as tmp:
        store = os.path.join(tmp, "sig_store.parquet")
        out = {
            "batch1": ingest_batch(spark, store, BATCH_1),
            "batch2": ingest_batch(spark, store, BATCH_2),
        }
        out["store_size"] = spark.read.parquet(store).count()

        # the same loop at the embedding level (paraphrases shingles miss)
        import numpy as np

        rng = np.random.RandomState(5)
        X = rng.randn(4, 8)
        cents = [[float(v) for v in X[i]] for i in range(2)]
        v = lambda a: [float(x) for x in a]
        vstore = os.path.join(tmp, "vec_store.parquet")
        out["vec_batch1"] = ingest_semantic(
            spark, vstore,
            [(1, v(X[2])), (2, v(X[2] + 1e-3 * rng.randn(8))), (3, v(X[3]))],
            cents,
        )
        out["vec_batch2"] = ingest_semantic(
            spark, vstore,
            [(10, v(X[2] + 1e-3 * rng.randn(8))), (11, v(rng.randn(8)))],
            cents,
        )

        # --- centroid-refresh loop: drift monitor -> re-cluster ------------
        # The epoch-keyed ingest loop (streaming/stateful.ingest_semantic_batch)
        # pins ONE centroid geometry; when the embedding distribution drifts
        # (new crawl, re-run model), `semantic_store_drift` fires and
        # `refresh_semantic_store` re-fits + re-assigns the store, returning
        # the new centroids to restart the stream with.
        from lantern_extras_spark.streaming.stateful import (
            ingest_semantic_batch,
            refresh_semantic_store,
            resolve_store_data_dir,
            semantic_store_drift,
        )

        estore = os.path.join(tmp, "epoch_store")
        eout = os.path.join(tmp, "epoch_out")
        base = spark.createDataFrame(
            [(i, v(X[i % 2] + 1e-2 * rng.randn(8))) for i in range(6)],
            "vec_id long, embedding array<double>",
        )
        ingest_semantic_batch(base, 0, eout, estore, cents)
        drifted = spark.createDataFrame(
            [(100 + i, v(X[3] * 5 + 1e-2 * rng.randn(8))) for i in range(6)],
            "vec_id long, embedding array<double>",
        )
        ingest_semantic_batch(drifted, 1, eout, estore, cents)
        drift = semantic_store_drift(spark, estore, split_epoch=0).first()
        out["drift"] = round(float(drift["max_abs_mean_delta"]), 3)
        if drift["max_abs_mean_delta"] > 0.5:  # tolerance sized to the scale
            new_cents = refresh_semantic_store(spark, estore, nlist=3)
            out["refreshed_nlist"] = len(new_cents)
            # the store versions its data behind a _CURRENT pointer (r13):
            # readers resolve the current version's directory
            out["refreshed_epochs"] = sorted(
                r["epoch"] for r in
                spark.read.parquet(resolve_store_data_dir(spark, estore))
                .select("epoch").distinct().collect()
            )

        # --- streaming INDEX stores: search stays fresh under ingest -------
        # BM25 (lexical) and IVF (vector) extend the epoch-partition pattern
        # from dedup state to full indexes: ingest writes mergeable epoch
        # partitions, search reads only what the query touches (postings by
        # term pushdown / probed cell directories) — no corpus re-scan, and
        # results track every ingested batch exactly.
        from lantern_extras_spark.operators.ivf import save_centroids
        from lantern_extras_spark.streaming.stateful import (
            bm25_search_store,
            ingest_bm25_batch,
            ingest_ivf_batch,
            ivf_search_store,
        )

        bstore = os.path.join(tmp, "bm25_store")
        docs1 = spark.createDataFrame(BATCH_1, "doc_id long, text string")
        docs2 = spark.createDataFrame(BATCH_2, "doc_id long, text string")
        ingest_bm25_batch(docs1, 0, bstore)
        ingest_bm25_batch(docs2, 1, bstore)
        out["bm25_top"] = [
            int(r["doc_id"])
            for r in bm25_search_store(spark, bstore, ["spark"], k=3).collect()
        ]

        cdir = os.path.join(tmp, "ivf_centroids")
        save_centroids(spark, cents, cdir)
        istore = os.path.join(tmp, "ivf_store")
        ingest_ivf_batch(base, 0, istore, cdir)
        ingest_ivf_batch(drifted, 1, istore, cdir)
        out["ivf_top"] = [
            int(r["vec_id"])
            for r in ivf_search_store(
                spark, istore, cdir, v(X[2]), k=3, nprobe=2
            ).collect()
        ]

        # --- HNSW store + compaction policy (r10) --------------------------
        # The graph store is LSM-shaped: every micro-batch appends an epoch
        # of shard graphs and search fans out over ALL of them (candidate
        # volume q*k*total_shards). `maybe_compact_hnsw_store` is the WHEN:
        # after each batch, a metadata-only check fires a rebuild-from-source
        # once the epoch pile exceeds the fan-out budget, collapsing the
        # store back to one shard set (atomic epoch=-1 swap).
        from lantern_extras_spark.streaming.stateful import (
            hnsw_search_store,
            hnsw_store_stats,
            ingest_hnsw_batch,
            maybe_compact_hnsw_store,
        )

        hstore = os.path.join(tmp, "hnsw_store")
        source_so_far = base
        ingest_hnsw_batch(base, 0, hstore, n_shards=2, metric="l2sq")
        for epoch, batch in ((1, drifted),):
            ingest_hnsw_batch(batch, epoch, hstore, n_shards=2, metric="l2sq")
            source_so_far = source_so_far.unionByName(batch)
            maybe_compact_hnsw_store(   # declines: 2 epochs <= budget
                spark, hstore, source_so_far, max_epochs=4,
                n_shards=2, metric="l2sq",
            )
        out["hnsw_pre_compact"] = hnsw_store_stats(spark, hstore)
        out["hnsw_compacted"] = maybe_compact_hnsw_store(
            spark, hstore, source_so_far, max_epochs=1,  # force for the demo
            n_shards=2, metric="l2sq",
        )
        out["hnsw_post_compact"] = hnsw_store_stats(spark, hstore)
        out["hnsw_top"] = [
            int(r["vec_id"])
            for r in hnsw_search_store(
                spark, hstore, [(0, v(X[2]))], k=3
            ).collect()
        ]
        return out


if __name__ == "__main__":
    for k, v in main().items():
        print(f"{k}: {v}")
