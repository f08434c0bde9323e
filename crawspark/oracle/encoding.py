"""Byte-level charset decoding (SURVEY.md §2.3 decode_bytes).

Reconstructed behavior [R: goose/utils/encoding.py::smart_unicode +
meta-charset override]: real crawl payloads are bytes whose transport
charset is wrong, missing, or lies. The decode chain, in priority order:

1. BOM sniff — a byte-order mark is authoritative (utf-8-sig/utf-16/utf-32).
2. In-document ``<meta charset>`` / http-equiv content-type sniff over the
   first 4 KB (HTML wins over a generic transport header in practice —
   the document knows itself).
3. The transport-declared charset — but only if the payload strictly
   decodes under it (a declaration that fails strict decode is a lie).
4. ``charset_normalizer`` statistical detection.
5. latin-1 — total fallback, never fails, preserves every byte.

Pure function of (data, declared_charset); never raises on garbage.
"""

from __future__ import annotations

import codecs
import re

try:  # present in this sandbox (SURVEY.md §0.2); gate for portability
    from charset_normalizer import from_bytes as _cn_from_bytes
except ImportError:  # pragma: no cover
    _cn_from_bytes = None

_BOMS: list[tuple[bytes, str]] = [
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF32_LE, "utf-32-le"),  # before utf-16-le (prefix clash)
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
]

_RE_META_CHARSET = re.compile(
    rb"""<meta[^>]+?charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.I)

_ALIAS = {"unicode": "utf-8", "utf8": "utf-8", "iso-latin-1": "latin-1"}


def _normalize_charset(name: str) -> str | None:
    name = _ALIAS.get(name.strip().lower(), name.strip().lower())
    try:
        codecs.lookup(name)
        return name
    except (LookupError, TypeError):
        return None


def sniff_meta_charset(data: bytes) -> str | None:
    """Charset from <meta charset=...> / http-equiv in the first 4 KB.
    The scan is byte-level (charset names are ASCII by definition), so it
    works before any decode."""
    m = _RE_META_CHARSET.search(data[:4096])
    if not m:
        return None
    return _normalize_charset(m.group(1).decode("ascii", "ignore"))


def _try_strict(data: bytes, charset: str) -> str | None:
    try:
        return data.decode(charset)
    except (UnicodeDecodeError, LookupError, ValueError):
        return None


def decode_bytes(data: bytes, declared_charset: str = "") -> str:
    """Decode a raw payload to text via the 5-step chain above, with a
    strict UTF-8 probe ahead of step 4: a legacy payload (e.g. cp1252)
    that also validates as UTF-8 decodes as UTF-8."""
    if not data:
        return ""
    for bom, charset in _BOMS:
        if data.startswith(bom):
            skip = 0 if charset == "utf-8-sig" else len(bom)
            got = _try_strict(data[skip:] if skip else data, charset)
            if got is not None:
                return got
    meta = sniff_meta_charset(data)
    if meta:
        got = _try_strict(data, meta)
        if got is not None:
            return got
    declared = _normalize_charset(declared_charset) if declared_charset else None
    if declared:
        got = _try_strict(data, declared)
        if got is not None:
            return got
    # Strict UTF-8 probe before statistical detection: a payload that
    # decodes strictly as UTF-8 *is* UTF-8 for any practical purpose —
    # multi-byte sequences that validate are vanishingly unlikely in any
    # other encoding, so detection could only confirm (at ~1.3 ms/doc,
    # the dominant cost of the decode chain measured at sf1.0) or
    # misfire. Skipping it is both faster and strictly safer.
    if "utf-8" not in (meta, declared):  # steps 2/3 already tried utf-8
        got = _try_strict(data, "utf-8")
        if got is not None:
            return got
    if _cn_from_bytes is not None:
        matches = _cn_from_bytes(data)
        best = matches.best()
        if best is not None:
            # Single-byte codecs are statistically near-indistinguishable
            # for western text (cp1250/cp1252/cp1257 land within ~0.06
            # chaos of each other on short pages). Apply a western prior —
            # the WHATWG encoding standard mandates windows-1252 as THE
            # default fallback for undeclared content, and the reference
            # is a western-corpus crawler [R: goose defaults] — but only
            # among PLAUSIBLE matches: a latin-1-family codec wins when
            # its chaos/coherence are within a band of the best match. A
            # genuinely central/eastern page is safe: its cp1252 decode
            # fails charset_normalizer's chaos filter outright and never
            # appears in `matches` at all (measured: Czech cp1250 text,
            # long or short, lists NO western codec).
            chosen = best.encoding
            western = {"cp1252", "latin_1", "iso8859_1", "iso8859_15"}
            if chosen not in western:
                for m in matches:
                    if (m.encoding in western
                            and m.chaos <= best.chaos + 0.1
                            and m.coherence >= best.coherence - 0.15):
                        chosen = m.encoding
                        break
            try:
                return data.decode(chosen)
            except (UnicodeDecodeError, LookupError):
                pass
    return data.decode("latin-1")
