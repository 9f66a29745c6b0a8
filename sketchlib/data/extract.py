"""The fixed html→text extraction rule (FIXTURES.md §1).

Rule: decode UTF-8 → delete <script…</script> and <style…</style> spans →
replace every remaining tag <[^>]*> with a single space → collapse whitespace
runs to one space → strip.

Vectorized with compiled regexes over pandas string arrays — no per-row
Python (input_hint mandate).  Both the generator and the Spark pipeline use
THIS function, and the per-url byte-identical invariant is asserted in
tests/test_extraction.py (including through the Spark pandas-UDF path).

Length-only consumers (the per-lang text-length digest build) call
``extract_len_one`` / ``extract_len_series`` instead: on ASCII input they
never decode or build the text or its tokens — after the tag pass, a
256-byte ``translate`` table maps each byte to whitespace or not, and the
length is counted from that (see ``extract_len_one``).
``extract_len_series`` also reads an Arrow binary/string column straight
from its buffers, so the fused digest build's Python workers never import
pandas: only ``extract_series`` does, on call.
"""

from __future__ import annotations

import math
import re
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa

if TYPE_CHECKING:
    import pandas as pd

_SCRIPT = re.compile(r"<script.*?</script>", re.DOTALL | re.IGNORECASE)
_STYLE = re.compile(r"<style.*?</style>", re.DOTALL | re.IGNORECASE)
_TAG = re.compile(r"<[^>]*>")
_WS = re.compile(r"\s+")

# bytes twins of the three passes for the length-only fast path (all three
# patterns are pure-ASCII, and ASCII bytes never occur inside a multi-byte
# UTF-8 sequence, so byte-level matching == char-level matching on any
# UTF-8 input; IGNORECASE on bytes folds ASCII only, same as the chars the
# patterns contain)
_SCRIPT_B = re.compile(rb"<script.*?</script>", re.DOTALL | re.IGNORECASE)
_STYLE_B = re.compile(rb"<style.*?</style>", re.DOTALL | re.IGNORECASE)
_TAG_B = re.compile(rb"<[^>]*>")
_SCRIPT_OR_STYLE_B = re.compile(rb"<s(?:cript|tyle)", re.IGNORECASE)
# every byte bytes.split() treats as whitespace -> b" ", any other -> b"x"
_WS_TABLE = bytes(0x20 if c in b" \t\n\r\x0b\x0c" else 0x78 for c in range(256))


def extract_one(html: bytes) -> str:
    s = html.decode("utf-8")
    s = _SCRIPT.sub("", s)
    s = _STYLE.sub("", s)
    s = _TAG.sub(" ", s)
    # " ".join(s.split()) == _WS.sub(" ", s).strip() exactly (str.split()
    # with no args splits on the same unicode-whitespace set as \s) and is
    # ~3x faster — the \s+ pass dominated extraction cost
    return " ".join(s.split())


def extract_series(html: pd.Series) -> pd.Series:
    """Batch extraction over a pandas Series of bytes (or str).

    One pass per compiled pattern via direct ``Pattern.sub`` calls — ~35%
    faster than the equivalent pandas ``.str.replace`` chain, which
    materializes an intermediate Series per step (pandas regex ops on
    object/string dtype are Python loops anyway, so there is no
    vectorization to lose).  Output is byte-identical to ``extract_one``.
    """
    import pandas as pd

    ss, ts, gs = _SCRIPT.sub, _STYLE.sub, _TAG.sub
    return pd.Series(
        [
            " ".join(
                gs(
                    " ",
                    ts(
                        "",
                        ss(
                            "",
                            b.decode("utf-8")
                            if isinstance(b, (bytes, bytearray))
                            else b,
                        ),
                    ),
                ).split()
            )
            for b in html
        ],
        index=html.index,
        dtype=object,
    )


def extract_len_one(html: bytes) -> int:
    """``len(extract_one(html))`` without materializing the text — the
    projection-pushdown form for length-only consumers (the flagship
    per-lang text-length digest build ingests ONLY this).

    Fast path runs entirely on BYTES and builds no tokens: skip the utf-8
    decode, run the script/style passes only when a case-insensitive
    ``<script``/``<style`` occurs, replace tags by one space, then
    ``translate`` every byte to ``b" "`` (the six bytes ``bytes.split()``
    treats as whitespace) or ``b"x"`` (anything else).  The text length is
    then pure counting: non-space bytes plus one separator between each
    pair of tokens, where a token starts at every ``b" x"`` and at a
    leading ``b"x"``.  Exact whenever the input is pure ASCII without
    \\x1c-\\x1f controls (checked in O(n) C code, no allocation); anything
    else falls back to ``len(extract_one(...))``.  Against the former
    ``split()`` + summed token lengths (~150 token objects per page just to
    count them), one 25k-page generated file measures 0.28-0.36 s instead
    of 0.43-0.48 s on one core of a 4-CPU x86 host.
    """
    if not _ascii_clean(html):
        return len(extract_one(html))
    return _ascii_len(html)


def _ascii_clean(html: bytes) -> bool:
    """Whether the bytes fast path is exact for ``html``: ``bytes.split()``
    (ASCII whitespace) agrees with ``str.split()`` (Unicode whitespace plus
    \\x1c-\\x1f) AND byte length equals char length, i.e. pure ASCII with
    no \\x1c-\\x1f controls.  Four memchr-backed ``in`` tests give the same
    verdict as one regex class search, 22 ms vs 135 ms over 20k generated
    pages."""
    return (html.isascii() and b"\x1c" not in html and b"\x1d" not in html
            and b"\x1e" not in html and b"\x1f" not in html)


def _ascii_len(html: bytes) -> int:
    """The fast path of ``extract_len_one``, for ``_ascii_clean`` input."""
    # ~80% of pages hold neither span: one search skips both passes
    if _SCRIPT_OR_STYLE_B.search(html):
        html = _STYLE_B.sub(b"", _SCRIPT_B.sub(b"", html))
    t = _TAG_B.sub(b" ", html).translate(_WS_TABLE)
    n = t.count(b" x") + t.startswith(b"x")
    return len(t) - t.count(b" ") + n - 1 if n else 0


def _len_any(b) -> float:
    if isinstance(b, str):
        b = b.encode("utf-8")
    elif not isinstance(b, (bytes, bytearray)):
        return math.nan  # a NULL page: None, NaN or pd.NA
    return extract_len_one(b)


#: offset width of each Arrow html type ``extract_len_series`` reads
_ARROW_OFFSETS = {pa.binary(): np.int32, pa.string(): np.int32,
                  pa.large_binary(): np.int64, pa.large_string(): np.int64}


def _arrow_lens(arr: pa.Array) -> np.ndarray:
    """``extract_len_one`` of every row of one Arrow binary/string array,
    NULL as NaN, read from its buffers (``to_numpy`` / ``to_pylist`` would
    import pandas or decode each string).  The rows' bytes are copied once
    into one ``bytes`` and each row is a slice of it; a batch that is
    ``_ascii_clean`` as a whole skips every row's own check."""
    width = _ARROW_OFFSETS.get(arr.type)
    if width is None:
        raise TypeError(f"html must be Arrow binary or string, not {arr.type}")
    n = len(arr)
    if not n:
        return np.empty(0, dtype=np.float64)
    valid, offsets, data = arr.buffers()
    offs = np.frombuffer(offsets, dtype=width, count=arr.offset + n + 1)[arr.offset:]
    lo, hi = int(offs[0]), int(offs[-1])
    blob = data.slice(lo, hi - lo).to_pybytes() if hi > lo else b""
    one = _ascii_len if _ascii_clean(blob) else extract_len_one
    rel = (offs - lo).tolist()
    out = np.fromiter((one(blob[a:b]) for a, b in zip(rel, rel[1:])),
                      dtype=np.float64, count=n)
    if arr.null_count:
        bits = np.frombuffer(valid, dtype=np.uint8, count=(arr.offset + n + 7) // 8)
        out[np.unpackbits(bits, count=arr.offset + n, bitorder="little")[arr.offset:] == 0] = np.nan
    return out


def extract_len_series(html) -> np.ndarray:
    """Vectorized ``extract_len_one``: float64 lengths (digest-ingest
    dtype), NaN for a NULL page, of a pandas Series (or any sequence) of
    bytes, bytearray or str, or of an Arrow binary, large_binary, string or
    large_string ``Array``/``ChunkedArray`` — the column a ``value_fn``
    reads off its ``pa.RecordBatch``.  Byte-identical to
    ``extract_series(html).str.len()`` — asserted in
    tests/test_extraction.py including the fallback triggers."""
    if isinstance(html, pa.ChunkedArray):
        return np.concatenate([np.empty(0)] + [_arrow_lens(c) for c in html.chunks])
    if isinstance(html, pa.Array):
        return _arrow_lens(html)
    return np.fromiter(map(_len_any, html), dtype=np.float64, count=len(html))
