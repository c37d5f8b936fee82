"""WET (WARC text-conversion) source/sink — the format web-scale
training corpora actually ship in (Common Crawl's `.warc.wet` files:
WARC/1.0 records per ISO 28500, one `conversion` record per page with
the extracted plain text as payload).

The reference only loads its own snapshot files
(`core/storage/engine.py:57-126`); a crawl-fed corpus engine needs the
standard archive front door. Design rules that matter at 100 TB:

- **Files are the parallelism unit.** ``read_wet`` goes through
  Spark's `binaryFile` source — one task per WET file, thousands of
  files scan in parallel, no driver materialization. Real WET shards
  are ~150 MB raw, sized by the publisher for exactly this pattern.
- **Framing is Content-Length, never delimiter search.** A payload may
  legally CONTAIN the bytes ``WARC/1.0`` (quoted HTML, nested
  archives); a split-on-marker parser silently corrupts such records.
  This parser walks header blocks and skips exactly
  ``Content-Length`` octets per record — the `wet_scan` driver entry
  plants a payload containing a fake record header to prove it.
- **Non-conversion records are metadata, not data.** Every WET file
  opens with a `warcinfo` record; the reader parses ALL records and
  lets the caller filter on `rec_type`, so `conversion` selection is
  an explicit, optimizable predicate.
- **The parse is Arrow-batched** (`mapInPandas`) — one Python pass per
  file, emitting records columnar; no row-at-a-time UDF.

The writer exists for round-trip tests and migration fixtures: each
task serializes ITS OWN partition to one `.warc.wet` file (the same
executor-side spill pattern as `vectorflow_snapshot.write`), so write
parallelism equals partition count and the driver never sees payload
bytes.
"""

from __future__ import annotations

import os
import uuid
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# fixed timestamp for deterministic fixtures (WARC-Date is mandatory
# per spec; corpus semantics never depend on it)
_FIXED_DATE = "2024-01-01T00:00:00Z"

RECORD_SCHEMA = (
    "file string, url string, rec_type string, content_length long, "
    "text string"
)


def _serialize_record(rec_type: str, url: str | None, payload: bytes) -> bytes:
    headers = [b"WARC/1.0", b"WARC-Type: " + rec_type.encode()]
    if url is not None:
        headers.append(b"WARC-Target-URI: " + url.encode())
    headers += [
        b"WARC-Date: " + _FIXED_DATE.encode(),
        b"WARC-Record-ID: <urn:uuid:" + str(uuid.uuid4()).encode() + b">",
        b"Content-Type: text/plain",
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    return b"\r\n".join(headers) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def _check_local_master(master: str) -> None:
    """Refuse executor-side plain-``open()`` writes off local mode —
    see :func:`write_wet`'s FILESYSTEM REQUIREMENT."""
    if not master.startswith("local"):
        raise ValueError(
            "write_wet writes shards with plain open() inside executor "
            "tasks; on a non-local master each executor lands shards on "
            "its own disk and out_dir silently sees a subset. Run on "
            f"local[...] or a shared mount (master={master!r})."
        )


def write_wet(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    text_col: str = "text",
    n_files: int = 8,
    compress: bool = False,
) -> DataFrame:
    """Serialize (url, text) rows as WET files under ``out_dir`` —
    ``n_files`` shards, rows routed by a hash of the url so the layout
    is deterministic and re-runs are idempotent (same row -> same
    shard). Returns the written manifest (file, n_records, n_bytes);
    collecting/writing the manifest is the action that runs the job.

    Each task writes exactly one file, opening with the spec-mandated
    ``warcinfo`` record. Payloads are UTF-8; Content-Length is OCTETS
    (per spec), not characters.

    ``compress=True`` writes ``.warc.wet.gz`` the way Common Crawl
    does: a MULTI-MEMBER gzip stream with ONE MEMBER PER RECORD, which
    is what makes (offset, length)-addressed random record access
    possible on an archive you never decompress whole.

    FILESYSTEM REQUIREMENT: shard files are written with plain
    ``open()`` INSIDE the executor task, so ``out_dir`` must be a
    path every executor AND the driver see as the same filesystem —
    local mode (one machine) or a shared mount (NFS/FUSE). On a
    multi-node cluster without a shared mount each executor would
    write to its own local disk and the driver's ``out_dir`` would
    see only a subset; this function REFUSES to run there (raises
    ``ValueError`` when the master isn't ``local[...]``) rather than
    silently losing shards. The cluster-native path is the
    ``vectorflow`` registered datasource (a real DataSource V2
    writer) or parquet + a distcp-style export.
    """
    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

    _check_local_master(df.sparkSession.conf.get("spark.master", ""))
    ensure_package_shipped(df.sparkSession)
    os.makedirs(out_dir, exist_ok=True)
    shard = F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_files))

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_zip_guard()
        # repartition(n, col) routes by hash(col) % n, so one task can
        # legally receive MORE than one shard value — write one file
        # per shard present, never one file per task, or two shards
        # would silently merge under a nondeterministic name
        by_shard: dict[int, list[tuple[str, str]]] = {}
        for pdf in batches:
            for u, t, s in zip(pdf["_url"], pdf["_text"], pdf["_shard"]):
                by_shard.setdefault(int(s), []).append((u, t))
        files, n_recs, n_bytes = [], [], []
        for shard_id in sorted(by_shard):
            rows = sorted(by_shard[shard_id], key=lambda r: r[0])
            recs = [
                _serialize_record(
                    "warcinfo",
                    None,
                    b"software: hnsw_vector_db_spark wet writer\r\n",
                )
            ] + [
                _serialize_record("conversion", u, (t or "").encode("utf-8"))
                for u, t in rows
            ]
            if compress:
                import gzip as _gzip

                # one gzip MEMBER per record (the Common Crawl layout)
                blob = b"".join(
                    _gzip.compress(r, compresslevel=6, mtime=0)
                    for r in recs
                )
                suffix = ".warc.wet.gz"
            else:
                blob = b"".join(recs)
                suffix = ".warc.wet"
            path = os.path.join(out_dir, f"part-{shard_id:05d}{suffix}")
            with open(path, "wb") as f:
                f.write(blob)
            files.append(os.path.basename(path))
            n_recs.append(len(rows))
            n_bytes.append(len(blob))
        yield pd.DataFrame(
            {"file": files, "n_records": n_recs, "n_bytes": n_bytes}
        ).astype({"file": str, "n_records": "int64", "n_bytes": "int64"})

    return (
        df.select(
            F.col(url_col).alias("_url"),
            F.col(text_col).alias("_text"),
            shard.alias("_shard"),
        )
        .repartition(n_files, "_shard")
        .mapInPandas(_write, "file string, n_records long, n_bytes long")
    )


def _gunzip_members(blob: bytes) -> bytes:
    """Decompress a MULTI-MEMBER gzip stream (the Common Crawl WET
    layout — one member per record). gzip.decompress handles this too,
    but looping decompressobj documents the member structure and fails
    fast on trailing garbage."""
    import zlib

    out = bytearray()
    rest = blob
    while rest:
        d = zlib.decompressobj(wbits=47)  # gzip header, one member
        out += d.decompress(rest)
        out += d.flush()
        if d.unused_data == rest:
            raise ValueError("not a gzip stream")
        rest = d.unused_data
    return bytes(out)


def _parse_wet_bytes(name: str, blob: bytes) -> list[tuple]:
    """Spec framing: header block up to CRLFCRLF, then exactly
    Content-Length payload octets, then the CRLFCRLF record separator."""
    if name.endswith(".gz"):
        blob = _gunzip_members(blob)
        name = name[: -len(".gz")]
    out: list[tuple] = []
    pos = 0
    n = len(blob)
    while pos < n:
        # tolerate extra separators between records
        while blob.startswith(b"\r\n", pos):
            pos += 2
        if pos >= n:
            break
        hdr_end = blob.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError(f"{name}: truncated header block at {pos}")
        head = blob[pos:hdr_end].decode("utf-8", errors="replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"{name}: bad record version line {lines[0]!r}")
        fields = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            fields[k.strip().lower()] = v.strip()
        length = int(fields["content-length"])
        body_start = hdr_end + 4
        payload = blob[body_start : body_start + length]
        if len(payload) != length:
            raise ValueError(f"{name}: truncated payload at {body_start}")
        out.append(
            (
                name,
                fields.get("warc-target-uri"),
                fields.get("warc-type", ""),
                length,
                payload.decode("utf-8", errors="replace"),
            )
        )
        pos = body_start + length
    return out


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Read WET files into (file, url, rec_type, content_length, text)
    — one task per file via the `binaryFile` source, Arrow-batched
    parse, Content-Length framing (see module docstring). The caller
    filters `rec_type == 'conversion'` for page text; `warcinfo` and
    friends stay visible for lineage audits."""
    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

    ensure_package_shipped(spark)
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.wet*")
        .load(path)
        .select("path", "content")
    )

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_zip_guard()
        for pdf in batches:
            recs: list[tuple] = []
            for p, c in zip(pdf["path"], pdf["content"]):
                recs.extend(_parse_wet_bytes(os.path.basename(p), bytes(c)))
            yield pd.DataFrame(
                recs,
                columns=[
                    "file",
                    "url",
                    "rec_type",
                    "content_length",
                    "text",
                ],
            )

    return raw.mapInPandas(_parse, RECORD_SCHEMA)
