"""WebDataset-style tar shard export for image+caption training corpora.

Image training loaders stream POSIX tar shards in which every sample is a
group of adjacently-stored members sharing one basename key —
``<key>.<fmt>`` for the payload and ``<key>.txt`` for the caption (the
WebDataset convention, github.com/webdataset/webdataset). This module is
the image-axis counterpart of a page blob sink: the engine's
curated (image_id, bytes, fmt, caption) table becomes content-addressed
tar shards plus a relational member index computed WITHOUT re-reading the
archive. Reference analog: the crawler's blob sink writes one S3 object
per page (storage/HybridStorageService.java:35-44); tar shards are the
bulk-interchange layout a training job actually mounts.

Layout contract (what makes the index restatable in SQL):
- shard = pmod(xxhash64(image_id), n_shards) — content-addressed, so a
  rebalance never rewrites other shards and the assignment needs no
  driver-side state;
- members within a shard are written in (image_id, member_name) order;
  for one image the payload member sorts before ``.txt`` (every codec
  suffix < 't'), giving the adjacent-sample grouping WebDataset readers
  require;
- headers are deterministic USTAR (512 B exactly for our ≤100-char
  names; mtime/uid/gid zeroed), data is zero-padded to 512-byte blocks —
  so a member's data offset is a pure function of the sizes of the
  members before it:
      data_offset = Σ_prev (512 + 512·⌈size/512⌉) + 512.

Scale shape: ONE shard-keyed exchange serves both surfaces — the window
that computes running offsets (index) and the applyInPandas grouping that
writes one file per shard (archive). Payload bytes cross that single
shuffle once and are never re-read for the index; at 10^10 images the
shard count scales the same way the crawl's URL-seen shards do.
"""

from __future__ import annotations

import os
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_BLK = 512

INDEX_SCHEMA_COLS = ("shard", "member_name", "data_offset", "size_bytes",
                     "member_sha256")

PARSE_SCHEMA = ("shard int, member_name string, data_offset long, "
                "size_bytes long, data binary")

RECEIPT_SCHEMA = ("shard int, path string, n_members long, tar_bytes long")


def _member_rows(images: DataFrame, image_id_col: str, bytes_col: str,
                 fmt_col: str, caption_col: str) -> DataFrame:
    """One image row -> its two tar members, in a single map-side explode
    (one scan of the images table; only lengths/hashes of the payload
    leave the scan, never a second copy of the bytes)."""
    iid = F.col(image_id_col)
    payload = F.struct(
        F.concat(iid, F.lit("."), F.col(fmt_col)).alias("member_name"),
        F.octet_length(F.col(bytes_col)).cast("long").alias("size_bytes"),
        F.sha2(F.col(bytes_col), 256).alias("member_sha256"))
    cap_bytes = F.encode(F.col(caption_col), "utf-8")
    caption = F.struct(
        F.concat(iid, F.lit(".txt")).alias("member_name"),
        F.octet_length(cap_bytes).cast("long").alias("size_bytes"),
        F.sha2(cap_bytes, 256).alias("member_sha256"))
    return (images
            .select(iid.alias("image_id"),
                    F.explode(F.array(payload, caption)).alias("m"))
            .select("image_id", "m.member_name", "m.size_bytes",
                    "m.member_sha256"))


def wds_member_index(images: DataFrame, n_shards: int = 4,
                     image_id_col: str = "image_id",
                     bytes_col: str = "bytes", fmt_col: str = "fmt",
                     caption_col: str = "caption") -> DataFrame:
    """The member index of a WebDataset export, entirely JVM-side: the
    tar layout math (512-byte headers, block-padded data) restated as a
    running-sum window in the SAME (image_id, member_name) order the
    shard writer uses — index rows seek directly into the files
    export_wds_shards writes, with zero archive re-reads."""
    members = _member_rows(images, image_id_col, bytes_col, fmt_col,
                           caption_col).withColumn(
        "shard",
        F.pmod(F.xxhash64("image_id"), F.lit(n_shards)).cast("int"))
    # header block + data padded to whole blocks
    blocks = (F.lit(_BLK)
              + F.lit(_BLK) * F.floor((F.col("size_bytes") + (_BLK - 1))
                                      / _BLK).cast("long"))
    w = Window.partitionBy("shard").orderBy("image_id", "member_name")
    return (members
            .withColumn("_blocks", blocks)
            .select("shard", "member_name",
                    (F.sum("_blocks").over(w) - F.col("_blocks")
                     + F.lit(_BLK)).alias("data_offset"),
                    "size_bytes", "member_sha256"))


def _tarinfo(name: str, size: int) -> tarfile.TarInfo:
    ti = tarfile.TarInfo(name)
    ti.size = size
    ti.mtime = 0          # deterministic archive bytes: fixed clock,
    ti.uid = ti.gid = 0   # anonymous ownership, fixed mode — re-export
    ti.uname = ti.gname = ""  # of the same table is byte-identical
    ti.mode = 0o644
    return ti


def export_wds_shards(images: DataFrame, out_dir: str, n_shards: int = 4,
                      image_id_col: str = "image_id",
                      bytes_col: str = "bytes", fmt_col: str = "fmt",
                      caption_col: str = "caption") -> DataFrame:
    """The export sink: one ``shard-NNNNN.tar`` per shard, members in
    (image_id, member_name) order, written worker-side with the blob-sink
    discipline (attempt-unique tmp + atomic rename, operators/extract.py).
    Returns the receipt table; wds_member_index over the same input IS
    the seek index for these files, and parse_wds reads them back
    (round-trip pinned in tests)."""

    def write_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        import io
        samples = []
        for iid, buf, fmt, cap in zip(pdf["image_id"], pdf["bytes"],
                                      pdf["fmt"], pdf["caption"]):
            samples.append((iid, f"{iid}.{fmt}", bytes(buf)))
            samples.append((iid, f"{iid}.txt", cap.encode("utf-8")))
        # same total order as the index window: (image_id, member_name)
        samples.sort(key=lambda m: (m[0], m[1]))
        path = os.path.join(out_dir, f"shard-{shard:05d}.tar")
        tmp = f"{path}.tmp.{os.getpid()}"
        with tarfile.open(tmp, "w", format=tarfile.USTAR_FORMAT) as tf:
            for _, name, data in samples:
                tf.addfile(_tarinfo(name, len(data)), io.BytesIO(data))
        os.replace(tmp, path)
        return pd.DataFrame({
            "shard": pd.array([shard], dtype="Int32"), "path": [path],
            "n_members": pd.array([len(samples)], dtype="Int64"),
            "tar_bytes": pd.array([os.path.getsize(path)], dtype="Int64")})

    os.makedirs(out_dir, exist_ok=True)
    keyed = images.select(
        F.pmod(F.xxhash64(F.col(image_id_col)),
               F.lit(n_shards)).cast("int").alias("shard"),
        F.col(image_id_col).alias("image_id"),
        F.col(bytes_col).alias("bytes"), F.col(fmt_col).alias("fmt"),
        F.col(caption_col).alias("caption"))
    return keyed.groupBy("shard").applyInPandas(write_group,
                                                RECEIPT_SCHEMA)


def parse_wds(spark: SparkSession, shards_dir: str) -> DataFrame:
    """Read tar shards back into (shard, member_name, data_offset,
    size_bytes, data) rows — the ingest side of the round-trip. One Arrow
    task per shard file; offsets come from the tar reader itself
    (TarInfo.offset_data), so the round-trip test checks the relational
    index against ground truth, not against shared math."""
    paths = sorted(
        os.path.join(shards_dir, p) for p in os.listdir(shards_dir)
        if p.endswith(".tar"))
    files = spark.createDataFrame(
        [(p,) for p in paths], "path string").repartition(max(len(paths), 1))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path in pdf["path"]:
                shard = int(os.path.basename(path)[6:11])
                rows = {k: [] for k in ("shard", "member_name",
                                        "data_offset", "size_bytes",
                                        "data")}
                with tarfile.open(path, "r") as tf:
                    for ti in tf:
                        rows["shard"].append(shard)
                        rows["member_name"].append(ti.name)
                        rows["data_offset"].append(ti.offset_data)
                        rows["size_bytes"].append(ti.size)
                        rows["data"].append(tf.extractfile(ti).read())
                yield pd.DataFrame({
                    "shard": pd.array(rows["shard"], dtype="Int32"),
                    "member_name": rows["member_name"],
                    "data_offset": pd.array(rows["data_offset"],
                                            dtype="Int64"),
                    "size_bytes": pd.array(rows["size_bytes"],
                                           dtype="Int64"),
                    "data": rows["data"]})

    return files.mapInPandas(run, PARSE_SCHEMA)
