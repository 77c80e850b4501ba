"""HTML→text extraction: the engine's "decode" stage.

The reference decodes video frames and resizes/normalizes them inside its
dataset (reference/datasets/videoset.py:66-139) — an opaque per-record
transform that is the single unavoidable non-relational step. Here the
analog is HTML→text over a ``binary`` column, and the north rule demands
(a) byte-identical output vs a single-process oracle and (b) no per-row
Python *serialization* on the hot path.

Both are satisfied by defining the extraction ONCE as a pure function of
``bytes`` (:func:`extract_text`, the oracle) and shipping it through an
Arrow-batched pandas UDF (:func:`extract_text_udf`): batches cross the
JVM↔Python boundary as columnar Arrow buffers, and the Python work per
batch is a compiled-regex pipeline. Identical code path ⇒ byte-identical
parity by construction (tested in tests/test_extraction.py).

Extraction semantics (deterministic, version-pinned to stdlib ``re``):

1. decode UTF-8 with ``errors="replace"`` (malformed bytes → U+FFFD);
2. drop ``<script>``/``<style>`` elements and HTML comments;
3. every remaining tag → one space;
4. unescape the fixed entity set ``&lt; &gt; &quot; &#39; &nbsp;`` then
   ``&amp;`` last (so ``&amp;lt;`` round-trips as the literal ``&lt;``);
5. collapse whitespace runs to single spaces, strip ends.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SCRIPT_RE = re.compile(rb"(?is)<script\b[^>]*>.*?</script\s*>")
_STYLE_RE = re.compile(rb"(?is)<style\b[^>]*>.*?</style\s*>")
_COMMENT_RE = re.compile(rb"(?s)<!--.*?-->")
_TAG_RE = re.compile(rb"<[^>]*>|<[^>]*$")  # incl. unterminated trailing tag
_WS_RE = re.compile(r"\s+")
_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def extract_text(html: bytes | bytearray | None) -> str | None:
    """Pure-Python oracle extractor — the parity reference for the UDF."""
    if html is None:
        return None
    b = bytes(html)
    b = _SCRIPT_RE.sub(b" ", b)
    b = _STYLE_RE.sub(b" ", b)
    b = _COMMENT_RE.sub(b" ", b)
    b = _TAG_RE.sub(b" ", b)
    s = b.decode("utf-8", errors="replace")
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return _WS_RE.sub(" ", s).strip()


def extract_text_udf(html: Column | str) -> Column:
    """Arrow-batched extraction over ``html: binary``. Same code as the
    oracle, applied per Arrow batch. The UDF is built on each call: a
    module-level one keeps the JVM function, and with it the accumulator
    server, of the first SparkContext it ran in, so after ``stop()`` and
    a new session every task would report to a closed socket."""

    @F.pandas_udf(T.StringType())
    def extract_text_udf(html: pd.Series) -> pd.Series:
        return html.map(extract_text)

    return extract_text_udf(html)


# --- charset detection / transcoding ---------------------------------
# Real crawls carry mixed encodings (HTTP bodies predate the UTF-8
# monoculture); the ingest pipeline must label and transcode them
# WITHOUT a per-row Python pass. Everything below is built-in Column
# expressions (BOM sniff on binary slices, Spark 4's is_valid_utf8,
# JVM decode()) — whole-stage codegen, no UDF.

_MAXLEN = (1 << 31) - 1


def detect_charset(payload):
    """Charset label for a binary HTTP-body column, the standard
    crawl-ingest heuristic: BOM sniff (UTF-8 / UTF-16LE / UTF-16BE —
    UTF-16 additionally requires an even byte length, else the decode
    would be malformed), then UTF-8 validation, then the ISO-8859-1
    fallback (every byte sequence is valid Latin-1). Pure JVM-side
    expression over binary slices."""
    head3 = F.substring(payload, 1, 3)
    head2 = F.substring(payload, 1, 2)
    even = F.length(payload) % 2 == 0
    return (
        F.when(head3 == F.lit(b"\xef\xbb\xbf"), F.lit("utf-8-bom"))
        .when((head2 == F.lit(b"\xff\xfe")) & even, F.lit("utf-16le"))
        .when((head2 == F.lit(b"\xfe\xff")) & even, F.lit("utf-16be"))
        .when(F.is_valid_utf8(payload), F.lit("utf-8"))
        .otherwise(F.lit("iso-8859-1"))
    )


def decode_charset(payload, charset=None):
    """Transcode a binary body to a UTF-8 string per its (detected)
    charset: BOMs are stripped, UTF-16 variants decode with the JVM
    codec, and the Latin-1 fallback is total (never malformed), so the
    expression cannot raise at scale. Pass ``charset`` to reuse an
    already-computed :func:`detect_charset` column."""
    cs = charset if charset is not None else detect_charset(payload)
    return (
        F.when(cs == "utf-8-bom", F.decode(F.substring(payload, 4, _MAXLEN), "UTF-8"))
        .when(cs == "utf-16le", F.decode(F.substring(payload, 3, _MAXLEN), "UTF-16LE"))
        .when(cs == "utf-16be", F.decode(F.substring(payload, 3, _MAXLEN), "UTF-16BE"))
        .when(cs == "utf-8", F.decode(payload, "UTF-8"))
        .otherwise(F.decode(payload, "ISO-8859-1"))
    )
