"""WebDataset tar-shard reader — the de-facto multimodal training format.

Large image-text corpora (LAION-scale) ship as thousands of .tar
shards whose members group by basename: `000123.jpg` + `000123.txt` +
`000123.json` are ONE sample keyed `000123` (the public WebDataset
convention: the key is the path up to the FIRST dot of the last path
segment, so `a/b.c.jpg` has key `a/b` and extension `c.jpg`). This module
reads shards into one row per sample with a map of extension → bytes,
feeding the image kernels (decode_image_features, clip_preprocess,
image_phash) and the text pipeline directly.

Spark design — same stance as sources/vecs.py and sources/warc.py: shards
arrive through `binaryFile`, ONE TASK PER SHARD (tar has no central index;
members stream sequentially, and the corpus-level parallelism axis is the
shard count — WebDataset exists precisely so that a 100 TB corpus is
10k+ independently-readable shards). Samples STREAM: local shards are
opened straight from disk (binaryFile column-pruned to `path`) and rows
flush in bounded 64 MB batches, so peak task memory is one batch, not the
shard; .tar.gz is accepted via tarfile's transparent decompression. A
`read_webdataset_stream` twin rides the binaryFile streaming source for
continuously-landing shards.

No counterpart in the reference (Postgres ingestion only) — part of the
beyond-reference training-pipeline surface (SURVEY.md §2.8).
"""

from __future__ import annotations

import io
import tarfile
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_WDS_SCHEMA = "path string, key string, parts map<string, binary>"
_BINFILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"


def split_wds_key(name: str) -> tuple[str, str]:
    """WebDataset member name → (sample key, extension): split at the FIRST
    dot of the last path segment (`a/b.c.jpg` → (`a/b`, `c.jpg`))."""
    head, _, last = name.rpartition("/")
    stem, dot, ext = last.partition(".")
    key = f"{head}/{stem}" if head else stem
    return key, ext if dot else ""


def iter_webdataset_samples(
    src, max_samples: int | None = None
) -> Iterator[dict]:
    """Stream one shard's samples — {key, parts: {ext: bytes}} yielded as
    each consecutive run of same-key members completes (the format's
    contract — tar order IS sample order; an interleaved shard is malformed
    and fails loudly so a half-sample never trains). `src` is a filesystem
    path (streams from disk: peak memory = one sample) or bytes (in-memory
    shard). Directories and PAX metadata members are skipped; extensionless
    members land under ''. stdlib tarfile caches member headers on the
    handle as it iterates — cleared per member so a million-member shard
    doesn't accumulate them. The interleave guard keeps one 64-bit
    fingerprint per completed sample (not the key strings — r12 verdict
    #4), so its footprint is ~30 B/sample regardless of key length; a
    fingerprint collision would fail LOUD on a valid shard at ~n²/2⁶⁵
    odds (a million-sample shard: ~3e-8), never corrupt data."""
    import hashlib

    def _fp(key: str) -> int:
        return int.from_bytes(
            hashlib.blake2b(key.encode(), digest_size=8).digest(), "big"
        )

    seen: set[int] = set()
    cur_key: str | None = None
    cur: dict[str, bytes] = {}
    emitted = 0
    try:
        if isinstance(src, (bytes, bytearray, memoryview)):
            tar_ctx = tarfile.open(fileobj=io.BytesIO(bytes(src)), mode="r:*")
        elif hasattr(src, "read"):  # non-seekable stream (e.g. an HTTP body)
            tar_ctx = tarfile.open(fileobj=src, mode="r|*")
        else:
            tar_ctx = tarfile.open(name=src, mode="r:*")
        with tar_ctx as tar:
            for m in tar:
                tar.members = []  # drop the header cache: streaming contract
                if not m.isfile():
                    continue
                key, ext = split_wds_key(m.name)
                if key != cur_key:
                    if cur_key is not None:
                        fp = _fp(cur_key)
                        if fp in seen:
                            raise ValueError(
                                f"webdataset shard: key {cur_key!r} appears in "
                                "non-consecutive runs (interleaved shard)"
                            )
                        seen.add(fp)
                        yield {"key": cur_key, "parts": cur}
                        emitted += 1
                    if max_samples is not None and emitted >= max_samples:
                        return
                    cur_key, cur = key, {}
                if ext in cur:
                    raise ValueError(
                        f"webdataset shard: duplicate extension {ext!r} for key {key!r}"
                    )
                f = tar.extractfile(m)
                cur[ext] = f.read() if f is not None else b""
    except tarfile.TarError as e:
        raise ValueError(f"bad webdataset tar shard: {e}") from e
    if cur_key is not None:
        if _fp(cur_key) in seen:
            raise ValueError(
                f"webdataset shard: key {cur_key!r} appears in non-consecutive "
                "runs (interleaved shard)"
            )
        yield {"key": cur_key, "parts": cur}


def parse_webdataset_bytes(
    blob: bytes, max_samples: int | None = None
) -> list[dict]:
    """Whole-blob convenience over `iter_webdataset_samples` (tests, small
    shards). The Spark readers use the iterator directly."""
    return list(iter_webdataset_samples(blob, max_samples))


class _IterStream(io.RawIOBase):
    """Chunk-iterator → non-seekable read() stream: adapts the archive
    openers' `chunks()` (disk reads or an HTTP body) to tarfile's streaming
    `r|*` mode, so an HTTP-hosted shard parses with the same one-sample
    peak memory as a local one."""

    def __init__(self, chunks):
        self._chunks = chunks
        self._cur = memoryview(b"")
        self._off = 0

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        n, want = 0, len(b)
        while n < want:
            if self._off >= len(self._cur):
                nxt = next(self._chunks, None)
                if nxt is None:
                    break
                self._cur = memoryview(nxt)
                self._off = 0
                continue
            take = min(want - n, len(self._cur) - self._off)
            b[n : n + take] = self._cur[self._off : self._off + take]
            self._off += take
            n += take
        return n


def _wds_parse_fn(max_samples, batch_bytes: int = 64 << 20):
    """Shared mapInPandas kernel: per shard, stream samples and flush a
    pandas frame every `batch_bytes` of payload — for locally-readable
    paths the tar streams straight from disk (binaryFile column-pruned to
    `path`, not even the shard blob materialized); peak task memory is one
    batch."""
    from lantern_extras_spark.sources.warc import (
        _arrow_forced,
        _local_fs_path,
        _opener_for,
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                fspath = _local_fs_path(row["path"])
                if fspath is not None and not _arrow_forced():
                    src = fspath  # seekable r:* straight from disk
                else:
                    # http(s) and object-store (Arrow FS) shards stream the
                    # same way: chunked reads through tarfile's r|* mode
                    opener = _opener_for(row["path"])
                    if opener is None and "content" not in row:
                        raise IOError(
                            f"no shard opener for {row['path']} on this "
                            "executor, and the scan was planned without the "
                            "binaryFile content fallback (the driver could "
                            "resolve the scheme; this executor cannot)"
                        )
                    src = (
                        _IterStream(opener.chunks())
                        if opener is not None
                        else bytes(row["content"])
                    )
                buf: list[dict] = []
                size = 0
                for s in iter_webdataset_samples(src, max_samples):
                    buf.append({"path": row["path"], **s})
                    size += sum(len(v) for v in s["parts"].values()) + 256
                    if size >= batch_bytes:
                        yield pd.DataFrame(buf)[["path", "key", "parts"]]
                        buf, size = [], 0
                if buf:
                    yield pd.DataFrame(buf)[["path", "key", "parts"]]

    return parse


def read_webdataset(
    spark: SparkSession,
    path,
    max_samples_per_shard: int | None = None,
) -> DataFrame:
    """Read WebDataset shard(s) → (path, key, parts map<string,binary>) —
    one task per shard, samples streamed in bounded 64 MB batches (local
    paths stream straight from disk; http(s) shard URLs — how WebDataset is
    served in practice — stream the GET body through tarfile's `r|*` mode;
    object-store shards arrive as one binaryFile blob but sample extraction
    stays incremental). `path` is a local/glob path or http(s) URL(s).
    Project parts with `element_at(parts, 'jpg')` / `map_keys`; the
    column-pruning analog for a tar source is `max_samples_per_shard`
    (sampling runs) since tar has no random access."""
    from lantern_extras_spark.sources.warc import _paths_df

    binary = _paths_df(spark, path)
    return binary.mapInPandas(_wds_parse_fn(max_samples_per_shard), _WDS_SCHEMA)


def read_webdataset_stream(
    spark: SparkSession,
    path: str,
    glob: str = "*.tar",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of `read_webdataset` (shards land continuously from a
    packing job); exactly-once shard tracking from the checkpoint,
    `maxFilesPerTrigger` as backpressure (shards are ~1 GB: cap files)."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(_BINFILE_SCHEMA)
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    binary = reader.load(path)
    from lantern_extras_spark.sources.warc import _local_fs_path

    local = _local_fs_path(path) is not None
    cols = ["path"] if local else ["path", "content"]
    return binary.select(*cols).mapInPandas(_wds_parse_fn(None), _WDS_SCHEMA)


def write_webdataset_shards(
    df: DataFrame,
    path: str,
    samples_per_shard: int = 1000,
    n_shards: int | None = None,
    key_col: str = "key",
    parts_col: str = "parts",
):
    """Distributed WebDataset EXPORT — the symmetry of `read_webdataset`:
    shard a (key, parts map<string,binary>) frame into `shard-NNNNNN.tar`
    files under `path`, one tar per task via groupBy(shard).applyInPandas.
    Shard assignment is deterministic (xxhash64(key) mod n — re-runs produce
    identical shards), members within a shard are key-sorted, and each
    sample's members are written consecutively (the format's contract, the
    same one `parse_webdataset_bytes` enforces on read). `path` must be a
    filesystem every executor can reach (shared FS / fuse mount — the same
    contract as any Spark file sink). Returns the collected manifest
    [(shard, file, n_samples, n_bytes)] — one row per shard, bounded.

    For token/byte-BALANCED text shards use `write_corpus_shards`; this
    writer is for multimodal sample bundles where the unit is the sample."""
    import math
    import os

    from pyspark.sql import functions as F

    count = df.count()
    if count == 0:
        return []
    n = n_shards or max(1, math.ceil(count / samples_per_shard))
    os.makedirs(path, exist_ok=True)
    asg = df.select(
        F.col(key_col).alias("key"), F.col(parts_col).alias("parts")
    ).withColumn("__shard", F.pmod(F.xxhash64(F.col("key")), F.lit(n)))

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["__shard"].iloc[0])
        fname = os.path.join(path, f"shard-{shard:06d}.tar")
        pdf = pdf.sort_values("key")
        n_bytes = 0
        with tarfile.open(fname, "w") as tar:
            for _, row in pdf.iterrows():
                for ext, payload in row["parts"].items():
                    payload = bytes(payload)
                    name = f"{row['key']}.{ext}" if ext else row["key"]
                    info = tarfile.TarInfo(name=name)
                    info.size = len(payload)
                    tar.addfile(info, io.BytesIO(payload))
                    n_bytes += len(payload)
        return pd.DataFrame(
            [{"shard": shard, "file": fname, "n_samples": len(pdf), "n_bytes": n_bytes}]
        )

    manifest = asg.groupBy("__shard").applyInPandas(
        write_group, "shard long, file string, n_samples long, n_bytes long"
    )
    return sorted(manifest.collect(), key=lambda r: r["shard"])


def write_webdataset_shard(path: str, samples: list[dict]) -> None:
    """Test helper / exporter: write one WebDataset shard. `samples` =
    [{key, parts: {ext: bytes}}], members emitted key-consecutively in the
    given order (the format's contract)."""
    with tarfile.open(path, "w") as tar:
        for s in samples:
            for ext, payload in s["parts"].items():
                name = f"{s['key']}.{ext}" if ext else s["key"]
                info = tarfile.TarInfo(name=name)
                info.size = len(payload)
                tar.addfile(info, io.BytesIO(payload))
