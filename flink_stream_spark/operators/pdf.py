"""PDF text extraction: a minimal-but-genuine ISO 32000 subset codec
+ an oracled extraction round-trip.

Real crawl corpora are full of PDFs — after HTML, it is the most
common document container a pretraining pipeline must open — and
"extract the text" is the first PDF operator every curation stack
needs. This module implements the subset of the public PDF spec
(ISO 32000-1 / Adobe PDF 1.7) that covers text documents, from
public knowledge only:

- `encode_pdf`: a deterministic single-font paged PDF writer —
  catalog / page-tree / Type1 font objects, one page per
  `_LINES_PER_PAGE` lines, each page's content stream holding one
  text object (`BT … ET`) with one show-text op per line
  (`Tj` + `T*` line advance), FlateDecoded (zlib), and a
  byte-exact cross-reference table + trailer. Lines that are pure
  printable ASCII are written as literal strings (with the spec's
  `\\( \\) \\\\` escapes); everything else as hex strings of the
  UTF-8 bytes — so BOTH string grammars the spec defines are
  exercised on real fixture data.
- `extract_pdf_text`: a STRICT extractor that walks the file the way
  a conforming reader does — `startxref` from the tail, the xref
  table's 20-byte entries, the trailer's `/Root`, the catalog's
  `/Pages`, the page tree's `/Kids` in order, each page's
  `/Contents` stream (resolving an indirect `/Length` through the
  xref), FlateDecode, then a content-stream tokenizer that
  reassembles the shown text from `Tj` / `TJ` operands. Any
  malformation — bad header, dangling xref, wrong entry size,
  `/Count` vs `/Kids` mismatch, truncated stream, zlib error,
  invalid UTF-8 — returns None, never a silent partial document
  (the house codec discipline: a crawl reader that resyncs past
  damage hides data loss).

Text semantics note: a full PDF reader maps string bytes to text
through the font's encoding/CMap; this writer declares UTF-8 string
payloads and the extractor inverts exactly that, which is the
correct round-trip contract for an engine-owned container (the same
stance as the WARC/WET payload handling in operators/warc.py).

Reference: thanminh24/Flink-Stream ingests already-extracted JSON
documents (flink/jobs/flink_json_to_iceberg.py); PDF extraction is
an upstream producer of such documents, per SURVEY §2 Part B
(training-data pipeline surface).
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from flink_stream_spark.catalog import load_table
from flink_stream_spark.operators.layout import sorted_result, spread
from flink_stream_spark.operators.registry import register

_LINES_PER_PAGE = 40

# --------------------------------------------------------------------------
# writer
# --------------------------------------------------------------------------

_PRINTABLE = frozenset(range(0x20, 0x7F))


def _pdf_string(line: str) -> bytes:
    """One show-text operand: literal string for printable-ASCII
    lines (escaping the three chars the grammar requires), hex
    string of the UTF-8 bytes otherwise."""
    raw = line.encode("utf-8")
    if all(b in _PRINTABLE for b in raw):
        esc = raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
        return b"(" + esc + b")"
    return b"<" + raw.hex().encode("ascii") + b">"


def _content_stream(lines: "list[str]") -> bytes:
    """One page's content: a single text object, 11 pt /F1, 14 pt
    leading, origin near the top-left of US Letter, one Tj + T* per
    line."""
    parts = [b"BT /F1 11 Tf 14 TL 72 760 Td"]
    for ln in lines:
        parts.append(_pdf_string(ln) + b" Tj T*")
    parts.append(b"ET")
    return b"\n".join(parts)


def encode_pdf(text: str) -> bytes:
    """Deterministic paged PDF: text split on newlines, 40 lines per
    page (at least one page — an empty text is a one-page document
    with one empty line), FlateDecode content streams, byte-exact
    xref. Object layout: 1 catalog, 2 page tree, 3 font, then
    (page, contents) pairs."""
    lines = text.split("\n")
    pages = [
        lines[i : i + _LINES_PER_PAGE]
        for i in range(0, len(lines), _LINES_PER_PAGE)
    ] or [[""]]
    n_pages = len(pages)

    objs: "dict[int, bytes]" = {}
    kids = " ".join(f"{4 + 2 * p} 0 R" for p in range(n_pages))
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode("ascii")
    )
    objs[3] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    for p, page_lines in enumerate(pages):
        page_num, cont_num = 4 + 2 * p, 5 + 2 * p
        objs[page_num] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {cont_num} 0 R >>"
        ).encode("ascii")
        body = zlib.compress(_content_stream(page_lines), 6)
        # indirect /Length: the form real writers emit and the form
        # that forces the extractor's xref-resolution path; the
        # length objects live after every (page, contents) pair
        len_num = 4 + 2 * n_pages + p
        objs[cont_num] = (
            f"<< /Length {len_num} 0 R "
            f"/Filter /FlateDecode >>\nstream\n".encode("ascii")
            + body
            + b"\nendstream"
        )
        objs[len_num] = str(len(body)).encode("ascii")

    n_objs = 3 + 3 * n_pages
    out = bytearray(b"%PDF-1.4\n%\xc2\xb5\xc2\xb6\n")  # binary-marker comment
    offsets: "dict[int, int]" = {}
    for num in range(1, n_objs + 1):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode("ascii") + objs[num] + b"\nendobj\n"
    xref_off = len(out)
    out += f"xref\n0 {n_objs + 1}\n".encode("ascii")
    out += b"0000000000 65535 f \n"
    for num in range(1, n_objs + 1):
        out += f"{offsets[num]:010d} 00000 n \n".encode("ascii")
    out += (
        f"trailer\n<< /Size {n_objs + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_off}\n%%EOF\n"
    ).encode("ascii")
    return bytes(out)


# --------------------------------------------------------------------------
# object / token grammar (reader side)
# --------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")


class _Lexer:
    """Tokenizer over the PDF object grammar subset the writer emits
    (plus literal-string escapes and nesting a foreign writer might):
    dicts, arrays, names, numbers, refs, literal/hex strings,
    keywords."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = self.data[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to EOL
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def next_token(self):
        """Returns (kind, value) or None at end/error. Kinds:
        'dict_open' 'dict_close' 'arr_open' 'arr_close' 'name'
        'num' 'str' 'kw'."""
        self._skip_ws()
        d, n = self.data, len(self.data)
        if self.pos >= n:
            return None
        c = d[self.pos]
        if d.startswith(b"<<", self.pos):
            self.pos += 2
            return ("dict_open", None)
        if d.startswith(b">>", self.pos):
            self.pos += 2
            return ("dict_close", None)
        if c == 0x5B:
            self.pos += 1
            return ("arr_open", None)
        if c == 0x5D:
            self.pos += 1
            return ("arr_close", None)
        if c == 0x2F:  # /Name
            start = self.pos + 1
            self.pos = start
            while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
                self.pos += 1
            return ("name", d[start : self.pos].decode("latin-1"))
        if c == 0x3C:  # <hex>
            end = d.find(b">", self.pos + 1)
            if end < 0:
                return None
            hx = d[self.pos + 1 : end]
            hx = bytes(b for b in hx if b not in _WS)
            if len(hx) % 2:
                hx += b"0"  # spec: odd final digit pads with 0
            try:
                val = bytes.fromhex(hx.decode("ascii"))
            except (ValueError, UnicodeDecodeError):
                return None
            self.pos = end + 1
            return ("str", val)
        if c == 0x28:  # (literal)
            return self._literal_string()
        m = _NUM_RE.match(d, self.pos)
        if m and m.start() == self.pos:
            self.pos = m.end()
            txt = m.group().decode("ascii")
            return ("num", float(txt) if "." in txt else int(txt))
        start = self.pos
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        if self.pos == start:
            return None
        return ("kw", d[start : self.pos].decode("latin-1"))

    _ESC = {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b", 0x66: b"\f",
            0x28: b"(", 0x29: b")", 0x5C: b"\\"}

    def _literal_string(self):
        d, n = self.data, len(self.data)
        out = bytearray()
        depth = 1
        i = self.pos + 1
        while i < n:
            c = d[i]
            if c == 0x5C:  # backslash
                if i + 1 >= n:
                    return None
                e = d[i + 1]
                if e in self._ESC:
                    out += self._ESC[e]
                    i += 2
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    j = i + 1
                    val = 0
                    while j < n and j < i + 4 and 0x30 <= d[j] <= 0x37:
                        val = val * 8 + (d[j] - 0x30)
                        j += 1
                    out.append(val & 0xFF)
                    i = j
                elif e in b"\r\n":  # line continuation
                    i += 2
                    if e == 0x0D and i < n and d[i] == 0x0A:
                        i += 1
                else:
                    out.append(e)
                    i += 2
            elif c == 0x28:
                depth += 1
                out.append(c)
                i += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos = i + 1
                    return ("str", bytes(out))
                out.append(c)
                i += 1
            else:
                out.append(c)
                i += 1
        return None  # unterminated


def _parse_value(lx: _Lexer):
    """One object-grammar value; indirect refs come back as
    ('ref', num). Returns a sentinel None on malformation (valid
    values are wrapped so a parsed null/0 is distinguishable)."""
    tok = lx.next_token()
    return _parse_value_tok(lx, tok)


def _parse_value_tok(lx: _Lexer, tok):
    if tok is None:
        return None
    kind, val = tok
    if kind == "dict_open":
        d = {}
        while True:
            t = lx.next_token()
            if t is None:
                return None
            if t[0] == "dict_close":
                return ("dict", d)
            if t[0] != "name":
                return None
            v = _parse_value(lx)
            if v is None:
                return None
            d[t[1]] = v
        # unreachable
    if kind == "arr_open":
        arr = []
        while True:
            save = lx.pos
            t = lx.next_token()
            if t is None:
                return None
            if t[0] == "arr_close":
                return ("arr", arr)
            lx.pos = save
            v = _parse_value(lx)
            if v is None:
                return None
            arr.append(v)
    if kind == "num":
        # lookahead for "gen R" making this an indirect reference
        save = lx.pos
        t2 = lx.next_token()
        if t2 and t2[0] == "num":
            t3 = lx.next_token()
            if t3 == ("kw", "R") and isinstance(val, int):
                return ("ref", val)
        lx.pos = save
        return ("num", val)
    if kind == "name":
        return ("name", val)
    if kind == "str":
        return ("str", val)
    if kind == "kw" and val in ("true", "false", "null"):
        return ("kw", val)
    return None


# --------------------------------------------------------------------------
# file structure walk
# --------------------------------------------------------------------------


def _parse_xref(data: bytes):
    """startxref (from the tail) -> xref table -> trailer dict.
    Returns (offsets: {objnum: byte_off}, trailer_dict) or None."""
    tail = data[-2048:]
    m = None
    for m in re.finditer(rb"startxref\s+(\d+)\s+%%EOF", tail):
        pass
    if m is None:
        return None
    xref_off = int(m.group(1))
    if xref_off >= len(data):
        return None
    lx = _Lexer(data, xref_off)
    if lx.next_token() != ("kw", "xref"):
        return None
    offsets: "dict[int, int]" = {}
    while True:
        t = lx.next_token()
        if t == ("kw", "trailer"):
            break
        if t is None or t[0] != "num":
            return None
        t2 = lx.next_token()
        if t2 is None or t2[0] != "num":
            return None
        first, count = int(t[1]), int(t2[1])
        if count < 0:
            return None
        lx._skip_ws()
        # entries are EXACTLY 20 bytes each per the spec
        ent = lx.data[lx.pos : lx.pos + 20 * count]
        if len(ent) != 20 * count:
            return None
        for i in range(count):
            row = ent[i * 20 : i * 20 + 20]
            em = re.match(rb"(\d{10}) (\d{5}) ([nf])", row)
            if em is None:
                return None
            if em.group(3) == b"n":
                offsets[first + i] = int(em.group(1))
        lx.pos += 20 * count
    trailer = _parse_value(lx)
    if trailer is None or trailer[0] != "dict":
        return None
    return offsets, trailer[1]


def _load_obj(data: bytes, offsets: "dict[int, int]", num: int):
    """Parse `num gen obj <value> [stream] endobj` at the xref
    offset. Returns (value, stream_bytes_or_None) or None."""
    off = offsets.get(num)
    if off is None or off >= len(data):
        return None
    lx = _Lexer(data, off)
    t1, t2, t3 = lx.next_token(), lx.next_token(), lx.next_token()
    if (
        t1 is None or t1[0] != "num" or int(t1[1]) != num
        or t2 is None or t2[0] != "num"
        or t3 != ("kw", "obj")
    ):
        return None
    val = _parse_value(lx)
    if val is None:
        return None
    save = lx.pos
    t = lx.next_token()
    if t == ("kw", "stream"):
        if val[0] != "dict":
            return None
        length = _resolve_int(data, offsets, val[1].get("Length"))
        if length is None or length < 0:
            return None
        # spec: keyword followed by CRLF or LF (never bare CR)
        p = lx.pos
        if data[p : p + 2] == b"\r\n":
            p += 2
        elif data[p : p + 1] == b"\n":
            p += 1
        else:
            return None
        body = data[p : p + length]
        if len(body) != length:
            return None
        lx2 = _Lexer(data, p + length)
        if lx2.next_token() != ("kw", "endstream"):
            return None
        if lx2.next_token() != ("kw", "endobj"):
            return None
        return val, body
    lx.pos = save
    if lx.next_token() != ("kw", "endobj"):
        return None
    return val, None


def _resolve_int(data, offsets, v):
    if v is None:
        return None
    if v[0] == "num" and isinstance(v[1], int):
        return v[1]
    if v[0] == "ref":
        obj = _load_obj(data, offsets, v[1])
        if obj is None or obj[0][0] != "num" or not isinstance(obj[0][1], int):
            return None
        return obj[0][1]
    return None


def _deref(data, offsets, v):
    """Follow a ('ref', n) to the object's value (no stream)."""
    if v is None:
        return None
    if v[0] != "ref":
        return v
    obj = _load_obj(data, offsets, v[1])
    return None if obj is None else obj[0]


def _stream_text_lines(body: bytes) -> "list[str] | None":
    """Reassemble shown text from a decoded content stream: operand
    stack, `Tj` shows its string operand, `TJ` its array's string
    elements (numbers are kerning — ignored), everything else
    discarded. Invalid UTF-8 in a shown string is a hard None."""
    lx = _Lexer(body, 0)
    stack: list = []
    lines: "list[str]" = []
    while True:
        save = lx.pos
        tok = lx.next_token()
        if tok is None:
            if lx.pos < len(body) and body[lx.pos :].strip(b"\x00\t\n\x0c\r "):
                return None  # lexer stuck mid-stream: malformed
            return lines
        if tok[0] == "kw" and tok[1] not in ("true", "false", "null"):
            op = tok[1]
            if op == "Tj":
                if not stack or stack[-1][0] != "str":
                    return None
                try:
                    lines.append(stack[-1][1].decode("utf-8"))
                except UnicodeDecodeError:
                    return None
            elif op == "TJ":
                if not stack or stack[-1][0] != "arr":
                    return None
                parts = []
                for el in stack[-1][1]:
                    if el[0] == "str":
                        try:
                            parts.append(el[1].decode("utf-8"))
                        except UnicodeDecodeError:
                            return None
                lines.append("".join(parts))
            stack = []
        else:
            lx.pos = save
            v = _parse_value(lx)
            if v is None:
                return None
            stack.append(v)


def extract_pdf_text(data: bytes) -> "tuple[str, int, int] | None":
    """(text, n_pages, n_objects) from a PDF, or None on any
    malformation. Pages contribute their shown lines in /Kids order;
    lines join with newlines across page boundaries (the writer's
    exact inverse). n_objects = trailer /Size - 1."""
    if not data.startswith(b"%PDF-"):
        return None
    xr = _parse_xref(data)
    if xr is None:
        return None
    offsets, trailer = xr
    size = _resolve_int(data, offsets, trailer.get("Size"))
    root = _deref(data, offsets, trailer.get("Root"))
    if size is None or root is None or root[0] != "dict":
        return None
    pages_node = _deref(data, offsets, root[1].get("Pages"))
    if pages_node is None or pages_node[0] != "dict":
        return None
    kids = pages_node[1].get("Kids")
    count = _resolve_int(data, offsets, pages_node[1].get("Count"))
    if kids is None or kids[0] != "arr" or count is None:
        return None
    if count != len(kids[1]):
        return None
    all_lines: "list[str]" = []
    for kid_ref in kids[1]:
        if kid_ref[0] != "ref":
            return None
        page = _load_obj(data, offsets, kid_ref[1])
        if page is None or page[0][0] != "dict":
            return None
        cont_ref = page[0][1].get("Contents")
        if cont_ref is None or cont_ref[0] != "ref":
            return None
        cont = _load_obj(data, offsets, cont_ref[1])
        if cont is None or cont[1] is None or cont[0][0] != "dict":
            return None
        cdict, body = cont
        filt = cdict[1].get("Filter")
        if filt == ("name", "FlateDecode"):
            # decompressobj, not zlib.decompress: the one-shot helper
            # silently ignores trailing garbage, which would let an
            # off-by-one /Length absorb the stream's EOL separator
            # and pass as valid
            d = zlib.decompressobj()
            try:
                out = d.decompress(body)
            except zlib.error:
                return None
            if not d.eof or d.unused_data:
                return None
            body = out
        elif filt is not None:
            return None  # unsupported filter: refuse, don't garble
        lines = _stream_text_lines(body)
        if lines is None:
            return None
        all_lines.extend(lines)
    return "\n".join(all_lines), len(kids[1]), size - 1


# --------------------------------------------------------------------------
# oracled round-trip query
# --------------------------------------------------------------------------


@register(
    "multimodal_pdf_text_extract",
    f"""
    SELECT doc_id,
           CAST(CEIL((length(text) - length(replace(text, chr(10), ''))
                      + 1) / {_LINES_PER_PAGE}.0) AS BIGINT) AS n_pages,
           CAST(3 + 3 * CEIL((length(text)
                      - length(replace(text, chr(10), ''))
                      + 1) / {_LINES_PER_PAGE}.0) AS BIGINT) AS n_objects,
           CAST(length(text) - length(replace(text, chr(10), '')) + 1
                AS BIGINT) AS n_lines,
           md5(text) AS text_md5
    FROM documents
    ORDER BY doc_id
    """,
    group="multimodal",
    doc="PDF codec round-trip under the oracle: each document's text "
    "becomes a REAL paged PDF (operators/pdf.py — Flate-compressed "
    "content streams, indirect /Length, literal AND hex string "
    "grammars, byte-exact xref), then the strict extractor walks "
    "startxref -> xref -> trailer -> /Root -> /Kids -> /Contents and "
    "reassembles the text from Tj operands. The oracle derives page/"
    "object/line counts and the text md5 straight from the source "
    "text (40 lines/page closed form), so a hash match proves writer, "
    "xref, stream framing, both string grammars, and the extractor "
    "end-to-end. One narrow Arrow-batched stage, no shuffle — the "
    "embarrassingly-parallel decode posture. No ASCII gate needed: "
    "non-ASCII lines travel as hex-encoded UTF-8 and the oracle "
    "addresses only whole-text md5 and newline counts (identical in "
    "chars and bytes).",
)
def multimodal_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    src = spread(d, "doc_id").select("doc_id", "text")

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf_batch in batches:
            rows = {"doc_id": [], "n_pages": [], "n_objects": [],
                    "n_lines": [], "text_md5": []}
            for doc_id, text in zip(pdf_batch["doc_id"], pdf_batch["text"]):
                blob = encode_pdf(str(text))
                out = extract_pdf_text(blob)
                if out is None:  # surfaced as a visible row-set change
                    continue
                extracted, n_pages, n_objects = out
                rows["doc_id"].append(doc_id)
                rows["n_pages"].append(n_pages)
                rows["n_objects"].append(n_objects)
                rows["n_lines"].append(extracted.count("\n") + 1)
                rows["text_md5"].append(
                    hashlib.md5(extracted.encode("utf-8")).hexdigest()
                )
            yield pd.DataFrame(rows)

    return src.mapInPandas(
        _roundtrip,
        "doc_id bigint, n_pages bigint, n_objects bigint, "
        "n_lines bigint, text_md5 string",
    ).transform(sorted_result, "doc_id")
