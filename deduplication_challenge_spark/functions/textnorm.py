"""Deterministic HTML -> text extraction and text normalization.

The north-rule input is ``(url, warc_ts, html, text, lang)`` where ``text``
must be byte-identical to what our extraction produces from ``html`` for the
same ``url`` (BASELINE.json input_hint). This module is the single source of
truth: the executor-side pandas UDF (operators/extract in plans/pipeline.py)
and the pytest oracle both call :func:`extract_text` — same bytes by
construction.

Scope: a deterministic, dependency-free extractor (regex tag stripping +
entity decoding + whitespace policy), NOT a full HTML5 parser — real crawls
would swap in a proper extractor behind the same signature; everything
downstream (shingles, signatures, clustering) only assumes "deterministic
string per input bytes".

Reference counterpart: the reference's normalization layer
(/root/reference/src/controller.py:28-58) canonicalizes cells so they are
hashable; here canonicalization is the text policy below (NFC, newline fold,
whitespace collapse).
"""

from __future__ import annotations

import html as _htmllib
import re
import unicodedata

# Tags whose content is never text.
_SCRIPT_STYLE_RE = re.compile(
    rb"<(script|style|noscript)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_COMMENT_RE = re.compile(rb"<!--.*?-->", re.DOTALL)
# Block-level tags become newlines so words from different blocks don't fuse.
_BLOCK_TAG_RE = re.compile(
    rb"</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article|header|"
    rb"footer|blockquote|pre|hr|title|body|html|head)\b[^>]*>",
    re.IGNORECASE,
)
_ANY_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RUN_RE = re.compile(r"[ \t\f\v]+")
_NL_RUN_RE = re.compile(r"\n{2,}")

_TOKEN_RE = re.compile(r"\S+")


# --- charset handling --------------------------------------------------------
# Real crawls are full of latin-1 / windows-1252 / shift-jis pages; decoding
# everything as utf-8 would turn each into deterministic mojibake that
# poisons shingles and dedup quality.  Precedence (pinned, matching the
# WHATWG encoding-sniffing order as published): byte-order mark > transport
# charset (HTTP Content-Type, carried by sources/warc.py) > in-document
# <meta charset> declaration > utf-8 with replacement.

#: <meta ...> tags scanned in the first 1024 bytes (the WHATWG prescan
#: window).  Attributes are parsed individually (not one loose charset=
#: regex) so a ``charset=`` inside an unrelated attribute VALUE — e.g.
#: <meta name=description content="how to set charset=big5"> — can never
#: hijack the declared encoding: only a real ``charset`` attribute, or a
#: ``content="...charset=..."`` on an http-equiv=content-type meta, counts.
_META_TAG_RE = re.compile(rb"<meta\s[^>]*>", re.IGNORECASE)
_ATTR_RE = re.compile(
    rb"""([a-zA-Z][a-zA-Z0-9_\-]*)\s*=\s*("[^"]*"|'[^']*'|[^\s>]+)"""
)
_CONTENT_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?\s*([a-zA-Z0-9_\-]+)")
_SNIFF_WINDOW = 1024

_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)


def _resolve_codec(name: str | None) -> str | None:
    """Codec name -> canonical Python TEXT codec, or None when unknown,
    empty, or not a text encoding.  Unknown charsets (typos, exotic legacy
    names) fall back to the utf-8 default rather than failing the record,
    and bytes-to-bytes codecs Python happens to register (zlib, base64,
    hex, bz2...) are REJECTED — ``b.decode('zlib')`` raises even with
    errors='replace', and the extraction contract is a total function."""
    if not name:
        return None
    import codecs

    try:
        info = codecs.lookup(name.strip().strip("\"'"))
    except (LookupError, ValueError):
        return None
    if not getattr(info, "_is_text_encoding", True):
        return None
    return info.name


def sniff_charset(data: bytes) -> str | None:
    """BOM or <meta charset> declaration -> codec name (None = no signal).
    The meta scan runs on the RAW bytes (before tag stripping — the tag
    itself is the signal) over the first kilobyte only, parsing each meta
    tag's attributes so charset= inside an unrelated attribute value is
    never honored (see _META_TAG_RE note)."""
    for bom, codec in _BOMS:
        if data[: len(bom)] == bom:
            return codec
    for tag in _META_TAG_RE.finditer(data[:_SNIFF_WINDOW]):
        attrs = {
            k.lower(): v.strip(b"\"'")
            for k, v in _ATTR_RE.findall(tag.group(0))
        }
        declared = attrs.get(b"charset")
        if declared is None and attrs.get(b"http-equiv", b"").lower() == b"content-type":
            m = _CONTENT_CHARSET_RE.search(attrs.get(b"content", b""))
            declared = m.group(1) if m else None
        if declared:
            codec = _resolve_codec(declared.decode("ascii", "replace"))
            if codec:
                return codec
    return None


def resolve_charset(data: bytes, charset_hint: str | None = None) -> str:
    """The pinned precedence: BOM > transport hint > meta tag > utf-8."""
    for bom, codec in _BOMS:
        if data[: len(bom)] == bom:
            return codec
    hinted = _resolve_codec(charset_hint)
    if hinted:
        return hinted
    return sniff_charset(data) or "utf-8"


def extract_text(html_bytes: bytes, charset_hint: str | None = None) -> str:
    """Deterministic text extraction. bytes -> str, total function.

    Policy (pinned — part of the golden config):
      1. resolve the charset (BOM > ``charset_hint`` from the transport /
         HTTP Content-Type > <meta charset> prescan > utf-8); non-utf-8
         pages are transcoded to utf-8 bytes first so the byte-level tag
         regexes below see ASCII markup,
      2. strip script/style/noscript bodies and comments (bytes level),
      3. block tags -> ``\\n``, all other tags -> ``" "``,
      4. utf-8 decode (errors=replace), HTML entity unescape,
      5. unicode NFC normalization, ``\\r\\n``/``\\r`` -> ``\\n``,
         NBSP/zero-width chars folded,
      6. collapse horizontal whitespace runs, strip line edges,
         collapse blank-line runs, strip outer whitespace.
    """
    if html_bytes is None:
        return ""
    codec = resolve_charset(html_bytes, charset_hint)
    if codec not in ("utf-8", "ascii"):
        # transcode ONCE so tag stripping operates on ASCII-compatible bytes
        # (utf-16/32 markup would never match the byte regexes otherwise)
        html_bytes = html_bytes.decode(codec, errors="replace").encode("utf-8")
    raw = _SCRIPT_STYLE_RE.sub(b" ", html_bytes)
    raw = _COMMENT_RE.sub(b" ", raw)
    raw = _BLOCK_TAG_RE.sub(b"\n", raw)
    raw = _ANY_TAG_RE.sub(b" ", raw)
    text = raw.decode("utf-8", errors="replace")
    text = _htmllib.unescape(text)
    return normalize_text(text)


def normalize_text(text: str) -> str:
    """Steps 4-5 of the policy; also applied to already-extracted text."""
    text = unicodedata.normalize("NFC", text)
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    for ch, repl in (("\u00a0", " "), ("\u200b", ""), ("\u200c", ""),
                     ("\u200d", ""), ("\ufeff", "")):
        text = text.replace(ch, repl)
    lines = [_WS_RUN_RE.sub(" ", ln).strip() for ln in text.split("\n")]
    text = "\n".join(lines)
    text = _NL_RUN_RE.sub("\n\n", text)
    return text.strip()


def tokenize(text: str) -> list[str]:
    """Whitespace tokenization, lowercased — the shingle alphabet.

    Pinned: signatures are case-insensitive; near-dup detection should not
    split clusters on casing. (Analogous canonicalization spirit to
    /root/reference/src/controller.py:56-58 joining identifier parts.)
    """
    return _TOKEN_RE.findall(text.lower())


def shingles(text: str, k: int) -> list[str]:
    """Word k-shingles as ``\\x1f``-joined token strings (k from config)."""
    toks = tokenize(text)
    if len(toks) < k:
        # degenerate short doc: single shingle of all tokens (may be empty)
        return ["\x1f".join(toks)] if toks else []
    return ["\x1f".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
