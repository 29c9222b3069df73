"""WebDataset-style tar-shard ingestion — how large multimodal
training corpora actually ship: a directory of ``.tar`` shards, each
member file one sample (``000123.txt``, ``000123.jpg``, ...), read
sequentially for throughput.

Spark shape: ``binaryFile`` gives one row per shard (path, content);
an Arrow-batched ``mapInPandas`` walks each shard's members with
stdlib ``tarfile`` entirely executor-side — the driver never touches
payload bytes, and a directory of N shards parallelizes N-wide
exactly like the reference's one-file-one-map-task granularity
(SURVEY §2 O1, main.go:94-118) but for binary samples.

``write_tar_shards`` is the fixture/writer twin (deterministic
metadata — mtime 0, uid/gid 0 — so shard bytes are reproducible).
"""

from __future__ import annotations

import io
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def pack_tar(members: list[tuple[str, bytes]]) -> bytes:
    """Deterministically pack (name, payload) members into tar bytes
    (zeroed mtime/uid/gid so identical inputs give identical shards)."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, payload in members:
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(payload))
    return buf.getvalue()


def unpack_tar(data: bytes) -> list[tuple[str, bytes]]:
    """Inverse of :func:`pack_tar` — (name, payload) per regular member."""
    out = []
    with tarfile.open(fileobj=io.BytesIO(data), mode="r") as tf:
        for info in tf:
            if info.isreg():
                f = tf.extractfile(info)
                out.append((info.name, f.read() if f else b""))
    return out


def read_tar_members(spark: SparkSession, path: str) -> DataFrame:
    """(shard, member, payload): every member of every ``.tar`` under
    ``path``.  Shards stream through ``binaryFile`` rows; the tar walk
    runs executor-side per shard."""
    shards = spark.read.format("binaryFile").load(path).select(
        F.col("path").alias("shard"), F.col("content").alias("content")
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"shard": [], "member": [], "payload": []}
            for shard, content in zip(pdf["shard"], pdf["content"]):
                for name, payload in unpack_tar(content):
                    rows["shard"].append(shard)
                    rows["member"].append(name)
                    rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    return shards.mapInPandas(
        batches, schema="shard string, member string, payload binary"
    )


def write_tar_shards(df: DataFrame, path: str, n_shards: int) -> DataFrame:
    """Hash-route ``(member, payload)`` rows into ``n_shards`` tar
    shards under ``path`` — the writer half of the WebDataset layout.
    Shard files are written EXECUTOR-SIDE (``path`` must be shared
    storage on a cluster; the driver only sees per-shard metadata rows,
    never payload bytes).  Members sort by name within a shard so shard
    bytes are deterministic.  Returns (shard_id, n_members, n_bytes)
    metadata."""
    import os

    os.makedirs(path, exist_ok=True)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        members: dict[int, list] = {}
        for pdf in it:
            for shard, name, payload in zip(
                pdf["_shard"], pdf["member"], pdf["payload"]
            ):
                members.setdefault(int(shard), []).append((name, bytes(payload)))
        rows = {"shard_id": [], "n_members": [], "n_bytes": []}
        for shard, ms in members.items():
            tar = pack_tar(sorted(ms))
            with open(os.path.join(path, f"shard-{shard:05d}.tar"), "wb") as f:
                f.write(tar)
            rows["shard_id"].append(shard)
            rows["n_members"].append(len(ms))
            rows["n_bytes"].append(len(tar))
        yield pd.DataFrame(rows)

    routed = df.select(
        F.pmod(F.xxhash64(F.col("member")), F.lit(n_shards)).alias("_shard"),
        "member",
        "payload",
    ).repartition(n_shards, "_shard")
    return routed.mapInPandas(
        batches, schema="shard_id long, n_members long, n_bytes long"
    )
