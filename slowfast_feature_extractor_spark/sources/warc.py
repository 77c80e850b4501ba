"""WARC-shard ingestion: build Common-Crawl-style WARC record blobs
per shard (ordered aggregation, all JVM-side) and parse them back with
an Arrow-batched ``mapInPandas`` record walker.

This is the ingest analog of the reference's container decode step
(reference/datasets/videoset.py:66-103 walks a video container and
yields frames; here a WARC file is walked and yields response
records). The parse is CONTENT-LENGTH driven — each record's payload
is sliced by the byte count declared in its header, never by
scanning for a sentinel — so a payload that happens to contain
header-like bytes ("WARC/1.0", blank lines) cannot desynchronize the
walk. That is the property that matters at 100 TB: WARC parsing is
embarrassingly parallel per file, and robustness comes from the
length-framed format, not from payload heuristics.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CRLF = "\r\n"


def warc_record(url: Column, payload: Column) -> Column:
    """Render one WARC/1.0 response record as a string column.
    Content-Length counts PAYLOAD BYTES (octet_length, not chars) per
    the WARC spec, so multi-byte UTF-8 text round-trips exactly."""
    return F.concat(
        F.lit("WARC/1.0" + CRLF),
        F.lit("WARC-Type: response" + CRLF),
        F.lit("WARC-Target-URI: "), url, F.lit(CRLF),
        F.lit("Content-Length: "),
        F.octet_length(payload).cast("string"),
        F.lit(CRLF + CRLF),
        payload,
        F.lit(CRLF + CRLF),
    )


def build_shards(
    df: DataFrame, shard: Column, order: Column, record: Column
) -> DataFrame:
    """Aggregate records into one blob per shard in deterministic
    ``order`` (the A9 ordered-concat shape: array_sort over structs,
    then project the record field) and cast to binary. One partial-agg
    shuffle keyed on the shard id; blob size is bounded by shard
    sizing policy, not corpus size. ``shard`` must be an INTEGRAL
    column — :func:`parse_shards` emits it as bigint."""
    packed = df.select(shard.alias("shard"), F.struct(order.alias("o"), record.alias("r")).alias("s"))
    return packed.groupBy("shard").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("s")), lambda s: s["r"]), ""
        )
        .cast("binary")
        .alias("blob")
    )


_SEP = (CRLF + CRLF).encode()
_RECORD_SCHEMA = "shard long, url string, n_bytes long, payload_md5 string"


def _parse_record(data: bytes, pos: int) -> tuple[str, bytes, int]:
    """Parse the header block of the record starting at ``pos``
    (terminated by CRLFCRLF) and slice its payload by Content-Length
    BYTES: (url, payload, end), ``end`` the offset just past the declared
    payload. A payload shorter than declared ends before ``end``; the
    readers check that, and the record magic, against their framing."""
    hdr_end = data.index(_SEP, pos)
    headers = {}
    for line in data[pos:hdr_end].decode("utf-8").split(CRLF)[1:]:
        k, _, v = line.partition(": ")
        headers[k] = v
    start = hdr_end + len(_SEP)
    end = start + int(headers["Content-Length"])
    return headers["WARC-Target-URI"], data[start:end], end


def _map_records(
    shards: DataFrame, records: Callable[[int, bytes], Iterator[tuple[str, bytes]]]
) -> DataFrame:
    """(shard, blob) → (shard, url, n_bytes, payload_md5), one row per
    (url, payload) that ``records(shard, blob)`` yields. Arrow-batched
    ``mapInPandas`` — one Python invocation per shard batch, zero
    per-row Python."""

    def _batches(it: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in it:
            out = {"shard": [], "url": [], "n_bytes": [], "payload_md5": []}
            for shard, blob in zip(pdf["shard"], pdf["blob"]):
                for url, payload in records(shard, bytes(blob)):
                    out["shard"].append(int(shard))
                    out["url"].append(url)
                    out["n_bytes"].append(len(payload))
                    out["payload_md5"].append(hashlib.md5(payload).hexdigest())
            yield pd.DataFrame(out)

    return shards.mapInPandas(_batches, schema=_RECORD_SCHEMA)


def parse_shards(shards: DataFrame) -> DataFrame:
    """Walk each shard blob record-by-record: parse the header block
    (terminated by CRLFCRLF), slice the payload by Content-Length
    BYTES, skip the record separator, repeat. Emits (shard, url,
    n_bytes, payload_md5)."""

    def records(shard: int, data: bytes) -> Iterator[tuple[str, bytes]]:
        pos = 0
        while pos < len(data):
            # startswith(prefix, pos) — NOT data[pos:].startswith —
            # a tail slice per record would copy O(records x blob)
            if not data.startswith(b"WARC/1.0", pos):
                raise ValueError(f"shard {shard}: bad record magic at byte {pos}")
            url, payload, end = _parse_record(data, pos)
            if end > len(data):
                raise ValueError(f"shard {shard}: truncated payload")
            yield url, payload
            pos = end + len(_SEP)

    return _map_records(shards, records)


def build_shards_gz(
    df: DataFrame, shard: Column, order: Column, record: Column
) -> DataFrame:
    """Pack records into ``.warc.gz``-framed shard blobs: ONE GZIP
    MEMBER PER RECORD, members concatenated — the actual Common Crawl
    convention, and the property that keeps a compressed corpus
    randomly addressable (a CDX offset points at a member boundary; a
    ranged read + one member inflate yields one record, never a
    whole-file decompress). Compression is deterministic: zlib with a
    gzip wrapper (wbits=31) writes MTIME=0 and no filename, fixed
    level, so blobs are byte-stable across runs. One
    ``applyInPandas`` per shard group (sort by ``order``, compress,
    join) — the same single partial-agg shuffle as the plain builder;
    compression cost is paid once at build and amortized over every
    later scan."""
    packed = df.select(
        shard.alias("shard"), order.alias("o"), record.cast("binary").alias("r")
    )

    def _pack(pdf):  # type: ignore[no-untyped-def]
        import zlib

        import pandas as pd

        pdf = pdf.sort_values("o")
        members = []
        for b in pdf["r"]:
            co = zlib.compressobj(level=6, wbits=31)
            members.append(co.compress(bytes(b)) + co.flush())
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "blob": [b"".join(members)]}
        )

    return packed.groupBy("shard").applyInPandas(_pack, schema="shard long, blob binary")


def parse_shards_gz(shards: DataFrame) -> DataFrame:
    """Walk a concatenated-gzip-member shard: inflate one member at a
    time with ``decompressobj(wbits=31)`` and continue from
    ``unused_data`` — NEVER a whole-blob decompress, so peak memory is
    one record regardless of shard size. Each member must contain
    exactly one complete Content-Length-framed record (the build-side
    invariant CDX offsets rely on); a member holding a short read, a
    bad magic, or trailing garbage raises instead of resynchronizing.
    Same output schema as :func:`parse_shards` — the compression
    transport must not change a single parsed byte."""

    def records(shard: int, buf: bytes) -> Iterator[tuple[str, bytes]]:
        import zlib

        CHUNK = 1 << 16
        mv = memoryview(buf)
        pos = 0
        while pos < len(buf):
            # Feed the inflater bounded memoryview slices instead
            # of `decompress(buf)` + `buf = do.unused_data`: that
            # form COPIES the whole remaining blob once per
            # member — O(members x shard bytes), quadratic time
            # on a real (GB-scale, 10^4-member) Common Crawl
            # shard even though peak memory stays one record.
            # Chunked feeding keeps the copy per member bounded
            # by CHUNK (unused_data is at most one chunk's tail).
            do = zlib.decompressobj(wbits=31)
            parts = []
            cur = pos
            while not do.eof:
                if cur >= len(buf):
                    raise ValueError(f"shard {shard}: truncated gzip member")
                chunk = mv[cur : cur + CHUNK]
                parts.append(do.decompress(chunk))
                cur += len(chunk) - len(do.unused_data)
            rec = b"".join(parts)
            pos = cur
            if not rec.startswith(b"WARC/1.0"):
                raise ValueError(f"shard {shard}: bad record magic in member")
            url, payload, end = _parse_record(rec, 0)
            if rec[end:] != _SEP:
                raise ValueError(f"shard {shard}: member/record framing mismatch")
            yield url, payload

    return _map_records(shards, records)
