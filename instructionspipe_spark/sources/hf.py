"""HF-datasets adapter (SURVEY.md S4; reference ``apps/training/sft.py:85-91``
loads a Hugging Face dataset for SFT).

Spark-first design: a Hugging Face dataset on disk is just files — parquet
(hub exports) or Arrow IPC (``Dataset.save_to_disk``). Parquet goes straight
through ``spark.read.parquet`` (splittable, pushdown). Arrow IPC has no
native Spark reader, so :func:`read_arrow_ipc` builds one from primitives:
a ``binaryFile`` scan distributes the FILES across the cluster, and an
Arrow-batched ``mapInPandas`` decodes each file with pyarrow on the
executor — no driver-side collect, no ``datasets`` dependency, linear scan.
One task per file (an IPC file is not splittable mid-stream), so
parallelism = file count — HF shards ``save_to_disk`` output by
``max_shard_size``, which is exactly the right granularity.

The ``datasets`` library is OPTIONAL and only used to resolve a hub NAME to
local files (:func:`read_hf_dataset` with a non-path name); everything else
runs lib-free.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

try:  # optional: hub-name resolution only
    import datasets as _hf_datasets
except Exception:  # pragma: no cover - import guard
    _hf_datasets = None


def have_hf_datasets() -> bool:
    return _hf_datasets is not None


# An IPC file's leading bytes are magic ("ARROW1\0\0") + the stream-format
# schema message; HF `features` metadata lives in that message, so allow a
# generous-but-bounded peek. Only this prefix of ONE file ever reaches the
# driver.
_SCHEMA_PEEK_BYTES = 4 * 1024 * 1024

# Spark's binaryFile source stores each file as a single byte-array row;
# JVM arrays cap at Int.MaxValue. Shards at/above this die with an opaque
# executor error, so read_arrow_ipc pre-checks listing metadata against it.
_MAX_SHARD_BYTES = 2**31 - 1


def _schema_from_header(header: bytes):
    """Parse an Arrow schema from a file's leading bytes. Works for both the
    stream format (first message IS the schema) and the random-access file
    format (magic + padding, then the same stream layout)."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    if header[:6] == b"ARROW1":
        header = header[8:]
    return ipc.read_schema(pa.BufferReader(header))


def read_arrow_ipc(
    spark: SparkSession, path: str | list[str], glob: str = "*.arrow"
) -> DataFrame:
    """Distributed Arrow-IPC scan: binaryFile file distribution + per-file
    pyarrow decode in ``mapInPandas``. Handles both the file format
    (random-access, what ``save_to_disk`` writes) and the stream format.

    Object-store safe: file listing AND the schema peek come from the
    ``binaryFile`` scan itself (Hadoop FS), never ``os.listdir`` — an
    ``s3a://`` path works exactly like a local one. The peek ships only the
    first ``_SCHEMA_PEEK_BYTES`` of the lexicographically-first file to the
    driver. ``path`` may be an explicit list of shard files (hub cache
    resolution hands one over), in which case ``glob`` is not applied.
    """
    import pyarrow as pa

    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    reader = spark.read.format("binaryFile")
    if isinstance(path, str):
        reader = reader.option("pathGlobFilter", glob)
        binaries = reader.load(path)
    else:
        binaries = reader.load(list(path))
    # binaryFile materializes each file as ONE row; a shard past the JVM
    # byte-array ceiling dies mid-scan with an opaque error. Check the
    # listing metadata first (path/length only — no content read; binaryFile
    # pushes the length filter down) and fail with an actionable message.
    oversized = (
        binaries.select("path", "length")
        .filter(F.col("length") > _MAX_SHARD_BYTES)
        .limit(1)
        .collect()
    )
    if oversized:
        raise ValueError(
            f"arrow shard {oversized[0]['path']} is {oversized[0]['length']} "
            f"bytes, above the {_MAX_SHARD_BYTES}-byte (2 GiB) binaryFile "
            "row limit — re-shard the dataset (e.g. datasets "
            "save_to_disk(max_shard_size='1GB')) or convert to parquet"
        )
    head = (
        binaries.select("path", F.substring("content", 1, _SCHEMA_PEEK_BYTES).alias("header"))
        .orderBy("path")
        .limit(1)
        .collect()
    )
    if not head:
        raise FileNotFoundError(f"no files matching {glob} under {path}")
    schema: T.StructType = from_arrow_schema(_schema_from_header(bytes(head[0]["header"])))

    def decode(batches: Iterator) -> Iterator:
        import pyarrow.ipc as ipc

        for pdf in batches:
            for blob in pdf["content"]:
                buf = pa.BufferReader(bytes(blob))
                try:
                    table = ipc.open_file(buf).read_all()
                except pa.ArrowInvalid:
                    buf.seek(0)
                    table = ipc.open_stream(buf).read_all()
                yield table.to_pandas()

    return binaries.select("content").mapInPandas(decode, schema=schema)


def _hadoop_ls(spark: SparkSession, path: str) -> list[str] | None:
    """List a directory through the Hadoop FS API so `s3a://`-style paths
    behave like local ones. Returns None when `path` is not a listable
    directory (missing, a file, or no JVM gateway e.g. Spark Connect —
    callers then fall back to POSIX)."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not (fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory()):
            return None
        return [st.getPath().getName() for st in fs.listStatus(jpath)]
    except Exception:
        return None


def read_hf_dataset(
    spark: SparkSession,
    name_or_path: str,
    split: str | None = None,
    loader=None,
) -> DataFrame:
    """S4 entry point. A directory (local or object-store) is read directly
    (parquet shards preferred, Arrow IPC otherwise; ``save_to_disk`` split
    layouts resolve via ``split``). A hub name needs the optional
    ``datasets`` library, which downloads/caches and then hands back local
    Arrow files.

    ``loader`` is the hub-resolution seam (same record-replay discipline as
    ``token_count_hf(tokenizer_factory=...)``): any callable with
    ``datasets.load_dataset``'s (name, split=...) signature returning an
    object whose ``.cache_files`` is a list of ``{"filename": path}``.
    Defaults to the real ``datasets.load_dataset`` when the library is
    importable; tests inject a canned resolver so this branch executes
    without the dependency (ref ``apps/training/sft.py:85-91``)."""
    entries = _hadoop_ls(spark, name_or_path)
    if entries is None and os.path.isdir(name_or_path):
        entries = os.listdir(name_or_path)
    if entries is not None:
        root = name_or_path
        if split and split in entries:
            sub = _hadoop_ls(spark, os.path.join(root, split))
            if sub is None and os.path.isdir(os.path.join(root, split)):
                sub = os.listdir(os.path.join(root, split))
            if sub is not None:
                root, entries = os.path.join(root, split), sub
        if any(e.endswith(".parquet") for e in entries):
            return spark.read.parquet(os.path.join(root, "*.parquet"))
        return read_arrow_ipc(spark, root)
    if loader is None:
        if _hf_datasets is None:
            raise NotImplementedError(
                "resolving a hub dataset name requires the optional `datasets` "
                "library; pass a local path of parquet/arrow files instead"
            )
        loader = _hf_datasets.load_dataset
    ds = loader(name_or_path, split=split)
    # Read EXACTLY the resolved cache files. (A glob derived from the first
    # filename — the previous approach — silently dropped sibling shards:
    # "data-00000-of-00002.arrow" prefixes to "data-00000-of*", which never
    # matches shard 00001.)
    files = sorted(f["filename"] for f in ds.cache_files)
    if not files:
        raise ValueError(f"dataset {name_or_path} has no local cache files")
    return read_arrow_ipc(spark, files)
