"""Trainer-ready tokenized shard sink/source: fixed-width binary token
streams plus an offset index — the terminal artifact of the curation
pipeline, in the layout LLM trainers mmap (the public Megatron-LM
``.bin``/``.idx`` indexed-dataset shape: a flat little-endian token
array and a sidecar index of per-document offsets/lengths).

The reference's storage engine is the same idea applied to vectors —
an offset-addressed flat binary (`core/storage/engine.py:45-56`,
``vectors.bin`` + msgpack topology); here the addressed unit is a
document's token span instead of a vector slab.

Scale shape (the same rules as the WET sink, `wet.py`):

- **Files are the parallelism unit.** The writer routes documents to
  shards by ``doc_id % n_shards`` and each task serializes the shards
  it holds — write parallelism = shard count, the driver never sees a
  token. The reader goes through ``binaryFile`` — one task per shard,
  thousands of shards scan in parallel.
- **The layout is deterministic.** Shard routing is id arithmetic,
  docs within a shard are laid out in ``doc_id`` order, and offsets
  are exact prefix sums — so a re-run writes byte-identical files and
  an independent engine can re-derive every (shard, offset, length)
  triple from the corpus alone (the ``token_shards`` driver oracle
  does exactly that in DuckDB).
- **Fixed-width tokens, no framing.** ``.bin`` is nothing but tokens
  (uint16 or uint32 little-endian): a trainer mmaps it and slices
  ``[offset, offset+length)`` per document — zero parse cost, the
  whole point of the format. All bookkeeping lives in ``.idx``.

``.idx`` layout (little-endian): 8-byte magic ``TOKIDX01``, uint8
dtype code (1=uint16, 2=uint32), 7 reserved zero bytes, uint64 n_docs,
then three packed arrays of n_docs entries each: doc_id int64,
offset int64 (in TOKENS, not bytes), length int32.

FILESYSTEM REQUIREMENT: like ``write_wet``, shard files are written
with plain ``open()`` inside executor tasks, so ``out_dir`` must be a
filesystem every executor and the driver share — the function refuses
to run off ``local[...]`` rather than silently scattering shards
across executor-local disks.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MAGIC = b"TOKIDX01"
_DTYPES = {"uint16": (1, np.uint16), "uint32": (2, np.uint32)}
_CODE_TO_DTYPE = {code: dt for code, dt in _DTYPES.values()}
_HEADER_LEN = 8 + 1 + 7 + 8  # magic + dtype code + reserved + n_docs


def _pack_index(doc_ids: np.ndarray, offsets: np.ndarray,
                lengths: np.ndarray, dtype_code: int) -> bytes:
    head = MAGIC + bytes([dtype_code]) + b"\x00" * 7
    # explicit little-endian: np.uint64(...).tobytes() would use NATIVE
    # byte order, breaking the documented layout on a big-endian writer
    head += int(len(doc_ids)).to_bytes(8, "little")
    return (
        head
        + doc_ids.astype("<i8").tobytes()
        + offsets.astype("<i8").tobytes()
        + lengths.astype("<i4").tobytes()
    )


def _parse_index(name: str, blob: bytes):
    if len(blob) < _HEADER_LEN:
        raise ValueError(f"{name}: index shorter than header")
    if blob[:8] != MAGIC:
        raise ValueError(f"{name}: bad magic {blob[:8]!r}")
    dtype_code = blob[8]
    if dtype_code not in _CODE_TO_DTYPE:
        raise ValueError(f"{name}: unknown dtype code {dtype_code}")
    n_docs = int(np.frombuffer(blob, "<u8", count=1, offset=16)[0])
    need = _HEADER_LEN + n_docs * (8 + 8 + 4)
    if len(blob) != need:
        raise ValueError(
            f"{name}: index is {len(blob)} bytes, expected {need} "
            f"for {n_docs} docs"
        )
    pos = _HEADER_LEN
    doc_ids = np.frombuffer(blob, "<i8", count=n_docs, offset=pos)
    pos += n_docs * 8
    offsets = np.frombuffer(blob, "<i8", count=n_docs, offset=pos)
    pos += n_docs * 8
    lengths = np.frombuffer(blob, "<i4", count=n_docs, offset=pos)
    return dtype_code, doc_ids, offsets, lengths


def write_token_shards(
    df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    ids_col: str = "ids",
    n_shards: int = 8,
    dtype: str = "uint32",
) -> DataFrame:
    """Write (doc_id, token-id array) rows as ``shard-NNNNN.bin/.idx``
    pairs under ``out_dir``. Shard = ``doc_id % n_shards``; within a
    shard documents are laid out in ``doc_id`` order and ``offset`` is
    the exact token-count prefix sum — the layout is a pure function of
    the input, so re-runs are byte-identical and an independent engine
    can re-derive every index entry (the driver oracle's contract).

    Token ids must fit ``dtype`` (uint16 or uint32) and be
    non-negative; out-of-range ids raise rather than silently wrap —
    a wrapped token id is corrupted training data with no error
    signature downstream. ``dtype="auto"`` picks uint16 when the
    global max id fits (one cheap max aggregate — halves the artifact
    for sub-64k vocabularies, the common case, exactly how trainers
    size their index dtype), else uint32; the chosen code is recorded
    per shard in the .idx header, so readers never guess.

    Returns the written manifest (file, n_docs, n_tokens, n_bytes);
    collecting/writing the manifest runs the job. See the module
    docstring for the FILESYSTEM REQUIREMENT (local/shared mount only).
    """
    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard
    from hnsw_vector_db_spark.sources.wet import _check_local_master

    if dtype == "auto":
        # one max aggregate over the id stream (bounded driver traffic:
        # a single row); empty corpus -> uint16 trivially fits
        hi = df.select(
            F.max(F.array_max(F.col(ids_col))).alias("m")
        ).collect()[0]["m"]
        dtype = "uint16" if hi is None or int(hi) <= 65535 else "uint32"
    if dtype not in _DTYPES:
        raise ValueError(
            f"dtype must be 'auto' or one of {sorted(_DTYPES)}, got {dtype!r}"
        )
    dtype_code, np_dtype = _DTYPES[dtype]
    max_id = int(np.iinfo(np_dtype).max)
    _check_local_master(df.sparkSession.conf.get("spark.master", ""))
    ensure_package_shipped(df.sparkSession)
    os.makedirs(out_dir, exist_ok=True)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_zip_guard()
        # repartition(n, col) routes by hash(col) % n — a task can hold
        # several shard values; write one file pair PER SHARD PRESENT
        # (the write_wet rule), never one per task.
        by_shard: dict[int, list[tuple[int, np.ndarray]]] = {}
        for pdf in batches:
            for d, ids, s in zip(pdf["_id"], pdf["_ids"], pdf["_shard"]):
                # named rejects for NULL rows: a NULL doc_id/ids would
                # otherwise die inside numpy with an opaque TypeError
                if d is None or pd.isna(d):
                    raise ValueError(
                        "write_token_shards: NULL doc_id row — every "
                        "row needs a routable id"
                    )
                if ids is None:
                    raise ValueError(
                        f"doc {int(d)}: NULL ids array — tokenize "
                        f"upstream or filter the row before writing"
                    )
                arr = np.asarray(ids, dtype=np.int64)
                if arr.size and (arr.min() < 0 or arr.max() > max_id):
                    raise ValueError(
                        f"doc {int(d)}: token id outside [0, {max_id}] "
                        f"for dtype {dtype} (min={arr.min()}, "
                        f"max={arr.max()}); widen dtype instead of wrapping"
                    )
                by_shard.setdefault(int(s), []).append((int(d), arr))
        files, n_docs_l, n_toks_l, n_bytes_l = [], [], [], []
        for shard_id in sorted(by_shard):
            rows = sorted(by_shard[shard_id], key=lambda r: r[0])
            doc_ids = np.array([r[0] for r in rows], dtype=np.int64)
            lengths = np.array([r[1].size for r in rows], dtype=np.int32)
            offsets = np.concatenate(
                ([0], np.cumsum(lengths[:-1], dtype=np.int64))
            ).astype(np.int64)
            bin_blob = (
                np.concatenate([r[1] for r in rows])
                .astype(np.dtype(np_dtype).newbyteorder("<"))
                .tobytes()
                if rows
                else b""
            )
            idx_blob = _pack_index(doc_ids, offsets, lengths, dtype_code)
            stem = os.path.join(out_dir, f"shard-{shard_id:05d}")
            with open(stem + ".bin", "wb") as f:
                f.write(bin_blob)
            with open(stem + ".idx", "wb") as f:
                f.write(idx_blob)
            files.append(os.path.basename(stem))
            n_docs_l.append(len(rows))
            n_toks_l.append(int(lengths.sum()))
            n_bytes_l.append(len(bin_blob) + len(idx_blob))
        yield pd.DataFrame(
            {
                "file": files,
                "n_docs": n_docs_l,
                "n_tokens": n_toks_l,
                "n_bytes": n_bytes_l,
            }
        ).astype(
            {"file": str, "n_docs": "int64", "n_tokens": "int64",
             "n_bytes": "int64"}
        )

    return (
        df.select(
            F.col(id_col).cast("long").alias("_id"),
            F.col(ids_col).cast("array<long>").alias("_ids"),
            F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("_shard"),
        )
        .repartition(n_shards, "_shard")
        .mapInPandas(
            _write, "file string, n_docs long, n_tokens long, n_bytes long"
        )
    )


def audit_token_shards(spark: SparkSession, path: str) -> DataFrame:
    """Shard-integrity AUDIT — the check a trainer runs before an
    expensive job: the same structural validations as
    :func:`read_token_shards` (magic, dtype code, index arity, offset
    prefix sums, .bin length == sum(lengths) * itemsize, orphaned
    sidecars) reported as one ROW PER SHARD instead of an exception —
    the :func:`~hnsw_vector_db_spark.operators.stats.integrity_report`
    shape applied to the binary artifact, so a petabyte shard farm
    audits in one parallel pass and the bad shard is NAMED, not thrown.

    Output: (file, n_docs, n_tokens, dtype, magic_ok, idx_ok, bin_ok,
    offsets_ok, ok). A shard whose index is unreadable reports NULL
    counts with ok=false; ok = every check true."""
    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

    ensure_package_shipped(spark)
    stem = lambda c: F.regexp_replace(  # noqa: E731
        F.element_at(F.split(c, "/"), -1), r"\.(bin|idx)$", ""
    )
    idx = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.idx")
        .load(path)
        .select(stem(F.col("path")).alias("file"),
                F.col("content").alias("idx"))
    )
    bin_ = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
        .select(stem(F.col("path")).alias("file"),
                F.col("content").alias("bin"))
    )
    paired = idx.join(bin_, "file", "full_outer")
    _names = {v[0]: k for k, v in _DTYPES.items()}

    def _audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_zip_guard()
        for pdf in batches:
            rows = []
            for name, iblob, bblob in zip(pdf["file"], pdf["idx"], pdf["bin"]):
                magic_ok = idx_ok = bin_ok = off_ok = False
                n_docs = n_toks = None
                dt = None
                if iblob is not None:
                    blob = bytes(iblob)
                    magic_ok = len(blob) >= 8 and blob[:8] == MAGIC
                    try:
                        code, doc_ids, offsets, lengths = _parse_index(
                            name, blob
                        )
                        idx_ok = True
                        dt = _names.get(code)
                        n_docs = len(doc_ids)
                        n_toks = int(lengths.sum())
                        good = np.concatenate(
                            ([0], np.cumsum(lengths[:-1], dtype=np.int64))
                        ) if len(lengths) else np.array([], dtype=np.int64)
                        off_ok = bool(np.array_equal(offsets, good))
                        itemsize = np.dtype(_CODE_TO_DTYPE[code]).itemsize
                        blen = len(bytes(bblob)) if bblob is not None else 0
                        bin_ok = blen == n_toks * itemsize
                    except ValueError:
                        pass
                rows.append(
                    (name, n_docs, n_toks, dt, magic_ok, idx_ok, bin_ok,
                     off_ok,
                     magic_ok and idx_ok and bin_ok and off_ok)
                )
            yield pd.DataFrame(
                rows,
                columns=["file", "n_docs", "n_tokens", "dtype", "magic_ok",
                         "idx_ok", "bin_ok", "offsets_ok", "ok"],
            )

    return paired.mapInPandas(
        _audit,
        "file string, n_docs long, n_tokens long, dtype string, "
        "magic_ok boolean, idx_ok boolean, bin_ok boolean, "
        "offsets_ok boolean, ok boolean",
    )


def read_token_shards(
    spark: SparkSession, path: str, shards: "list[int] | None" = None
) -> DataFrame:
    """Read shard pairs back into (file, doc_id, offset, n_tokens, ids)
    — one ``binaryFile`` task per shard, numpy ``frombuffer`` slicing
    (zero-copy views of the Arrow batch), every structural invariant
    verified: magic, dtype code, index arity, offset prefix-sum
    consistency, and ``.bin`` length == sum(lengths) * itemsize. A
    truncated or orphaned file raises with the shard named — silent
    partial reads are corrupted training data.

    ``shards`` selects specific shard ids to read (a data-parallel
    trainer rank mounts ONLY its shards): the selection is pushed into
    the file listing as a ``pathGlobFilter`` alternation, so unselected
    shards are never opened, listed into tasks, or transferred — the
    binary artifact's version of partition pruning."""
    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

    ensure_package_shipped(spark)
    if shards is not None:
        if not shards:
            raise ValueError(
                "shards=[] selects nothing; pass None for all shards"
            )
        alt = ",".join(f"shard-{int(s):05d}" for s in sorted(set(shards)))
        idx_glob, bin_glob = f"{{{alt}}}.idx", f"{{{alt}}}.bin"
    else:
        idx_glob, bin_glob = "*.idx", "*.bin"
    stem = lambda c: F.regexp_replace(  # noqa: E731
        F.element_at(F.split(c, "/"), -1), r"\.(bin|idx)$", ""
    )
    idx = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", idx_glob)
        .load(path)
        .select(stem(F.col("path")).alias("file"),
                F.col("content").alias("idx"))
    )
    bin_ = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", bin_glob)
        .load(path)
        .select(stem(F.col("path")).alias("file"),
                F.col("content").alias("bin"))
    )
    # full outer: an orphaned .idx or .bin must ERROR in the parser, not
    # vanish in an inner join
    paired = idx.join(bin_, "file", "full_outer")

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_zip_guard()
        for pdf in batches:
            out_file, out_doc, out_off, out_len, out_ids = [], [], [], [], []
            for name, iblob, bblob in zip(
                pdf["file"], pdf["idx"], pdf["bin"]
            ):
                if iblob is None:
                    raise ValueError(f"{name}: missing .idx sidecar")
                dtype_code, doc_ids, offsets, lengths = _parse_index(
                    name, bytes(iblob)
                )
                np_dtype = _CODE_TO_DTYPE[dtype_code]
                # binaryFile skips zero-byte files, so a shard whose docs
                # are all empty arrives with no .bin row — legal iff the
                # index expects 0 tokens (the sum check below enforces it)
                toks = np.frombuffer(
                    bytes(bblob) if bblob is not None else b"",
                    dtype=np.dtype(np_dtype).newbyteorder("<"),
                )
                expect = int(lengths.sum())
                if toks.size != expect:
                    raise ValueError(
                        f"{name}: .bin holds {toks.size} tokens, index "
                        f"expects {expect} (truncated or mismatched shard)"
                    )
                good = np.concatenate(
                    ([0], np.cumsum(lengths[:-1], dtype=np.int64))
                ) if len(lengths) else np.array([], dtype=np.int64)
                if not np.array_equal(offsets, good):
                    raise ValueError(f"{name}: offsets are not the "
                                     f"length prefix sum")
                for d, o, ln in zip(doc_ids, offsets, lengths):
                    out_file.append(name)
                    out_doc.append(int(d))
                    out_off.append(int(o))
                    out_len.append(int(ln))
                    out_ids.append(
                        toks[int(o): int(o) + int(ln)].astype(np.int64)
                    )
            yield pd.DataFrame(
                {
                    "file": out_file,
                    "doc_id": out_doc,
                    "offset": out_off,
                    "n_tokens": out_len,
                    "ids": out_ids,
                }
            )

    return paired.mapInPandas(
        _parse,
        "file string, doc_id long, offset long, n_tokens int, "
        "ids array<long>",
    )
