"""PDF layout parse: per-page text spans with bounding boxes.

Role analogue in the reference: `no-ocr-api/np_ocr/data.py:14-33`
(`PdfReader(...).pages[i].extract_text()` + poppler page raster). The rebuild
needs `bytes -> [(page, spans[])]` where each span carries text + bbox,
emitted as nested struct arrays (SURVEY.md §1.3 `spans` schema).

PyMuPDF is not installed in this environment, so this module implements a
small from-scratch parser covering the standard text-showing subset of real
PDFs: operators BT/ET, Tf, Td, TD, Tm, TL, T*, Tj, TJ (array show with
kerning), ' and " (next-line shows), literal `(...)` and hex `<...>`
strings, and page ordering via the document page tree (Catalog -> /Pages
/Kids walk, nested tree nodes and multi-stream /Contents arrays included),
falling back to content-stream file order for tree-less files. Font
encodings are honored per the spec's text-extraction rules: /ToUnicode
CMaps (1-byte code space: bfchar + both bfrange forms, UTF-16BE targets)
take precedence, then /Encoding /Differences arrays resolved through an
Adobe-Glyph-List subset (+ uniXXXX/uXXXXXX algorithmic names); bytes not
covered by either decode as latin-1. Object bodies are parsed LENGTH-AWARE
(stream payloads skipped by /Length, direct or indirect), so binary
FlateDecode payloads containing `endobj`/`endstream` bytes cannot truncate
the object scan. That subset is real PDF (readable by any viewer; the
reference reads arbitrary user PDFs via pypdf, no-ocr-api/np_ocr/
data.py:18-23 — this parser is the from-scratch equivalent for the
text-showing subset); the parser is the canonical
extraction path so goldens are reproducible in any environment. If PyMuPDF
is present it can be opted into via `use_pymupdf=True`, but it is never the
default (environment-dependent output would break byte-identity goldens).

Geometry model (deterministic, font-metric-free): for a glyph run shown at
text-space position (x, y) with font size s, the span bbox is
  x0=x, y0=y - 0.2*s, x1=x + 0.6*s*len(text), y1=y + 0.8*s
— the conventional 80/20 ascent/descent split and 0.6em advance for a
monospaced Helvetica-ish approximation.
"""

from __future__ import annotations

import functools as _functools
import re
import zlib
from dataclasses import dataclass

import numpy as np

_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_NUM_RE = re.compile(rb"[-+]?\d+(?:\.\d+)?")


@dataclass
class Span:
    text: str
    x0: float
    y0: float
    x1: float
    y1: float
    block: int  # BT..ET group index on the page, 0-based
    line: int   # Tj index within the block, 0-based


def is_pdf(payload: bytes) -> bool:
    return payload[:5] == b"%PDF-"


# --------------------------------------------------------------------------
# content-stream tokenizer


def _unescape_pdf_bytes(raw: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(raw)
    esc = {
        ord("n"): 10, ord("r"): 13, ord("t"): 9, ord("b"): 8, ord("f"): 12,
        ord("("): 40, ord(")"): 41, ord("\\"): 92,
    }
    while i < n:
        c = raw[i]
        if c == 0x5C and i + 1 < n:  # backslash
            nxt = raw[i + 1]
            if nxt in esc:
                out.append(esc[nxt])
                i += 2
                continue
            if 0x30 <= nxt <= 0x37:  # octal escape, up to 3 digits
                j = i + 1
                oct_digits = bytearray()
                while j < n and len(oct_digits) < 3 and 0x30 <= raw[j] <= 0x37:
                    oct_digits.append(raw[j])
                    j += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
                i = j
                continue
        out.append(c)
        i += 1
    return bytes(out)


def _hex_bytes(raw: bytes) -> bytes:
    """Hex-string payload -> bytes: non-hex chars dropped, odd final digit
    implies a trailing 0 (spec 7.3.4.3). Shared by the content tokenizer,
    dict-string parsing, and ASCIIHexDecode."""
    hx = bytes(c for c in raw if c in b"0123456789abcdefABCDEF")
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


def _scan_literal_string(buf: bytes, start: int) -> tuple[bytes, int]:
    """Scan a (…) literal string from the byte AFTER the opening paren.
    Returns (raw bytes, escapes preserved; index of the closing paren).
    Shared by the content tokenizer and dict-string parsing."""
    depth = 1
    j = start
    out = bytearray()
    n = len(buf)
    while j < n and depth:
        ch = buf[j]
        if ch == 0x5C:
            out.append(ch)
            if j + 1 < n:
                out.append(buf[j + 1])
            j += 2
            continue
        if ch == 0x28:
            depth += 1
        elif ch == 0x29:
            depth -= 1
            if depth == 0:
                break
        out.append(ch)
        j += 1
    return bytes(out), j


def _tokenize_content(stream: bytes):
    """Yield ('num', f) / ('str', bytes) / ('name', s) / ('op', s) tokens.
    String tokens stay RAW BYTES: what they mean as text depends on the
    current font's encoding, which only the interpreter knows (Tf state)."""
    i = 0
    n = len(stream)
    while i < n:
        c = stream[i:i + 1]
        if c in b" \t\r\n\x00":
            i += 1
            continue
        if c == b"%":  # comment: to end of line (spec 7.2.4)
            j = i + 1
            while j < n and stream[j] not in b"\r\n":
                j += 1
            i = j
            continue
        if c == b"(":
            raw, j = _scan_literal_string(stream, i + 1)
            yield ("str", _unescape_pdf_bytes(raw))
            i = j + 1
            continue
        if c == b"<":
            if stream[i + 1:i + 2] == b"<":  # dict open (BDC prop lists etc.)
                i += 2
                continue
            j = stream.find(b">", i + 1)
            if j == -1:
                j = n
            yield ("str", _hex_bytes(stream[i + 1:j]))
            i = j + 1
            continue
        if c == b">":  # dict close '>>'
            i += 2 if stream[i:i + 2] == b">>" else 1
            continue
        if c == b"[":
            yield ("arrstart", None)
            i += 1
            continue
        if c == b"]":
            yield ("arrend", None)
            i += 1
            continue
        if c == b"/":
            m = re.match(rb"/[^\s()<>\[\]{}/%]*", stream[i:])
            yield ("name", m.group(0)[1:].decode("latin-1"))
            i += m.end()
            continue
        m = _NUM_RE.match(stream, i)
        if m and m.start() == i:
            yield ("num", float(m.group(0)))
            i = m.end()
            continue
        m = re.match(rb"[A-Za-z'*\"]+", stream[i:])
        if m:
            op = m.group(0).decode("latin-1")
            i += m.end()
            if op == "ID":
                # inline image (BI … ID <binary> EI): the binary data is
                # NOT tokens — skip to the FIRST delimiter-followed EI so
                # image bytes can't fake text-show operators. The data may
                # abut EI directly (spec 8.9.7), so no preceding-whitespace
                # requirement: preferring a later whitespace-preceded EI
                # would swallow real text between two inline images. (The
                # residual risk — binary data containing 'EI' + delimiter —
                # terminates the image early and resynchronizes at the real
                # EI, same trade-off pdf.js makes.)
                e = re.compile(rb"EI(?=[\s\x00(<\[/%]|$)").search(stream, i)
                i = e.end() if e else n
                continue
            yield ("op", op)
            continue
        i += 1  # unknown byte: skip


def _parse_content_stream(
    stream: bytes, fonts: dict[str, dict[int, str]] | None = None,
) -> list[Span]:
    spans: list[Span] = []
    stack: list = []
    size = 12.0
    leading = 14.0
    x = y = 0.0
    line_x = line_y = 0.0
    block = -1
    line = 0
    cur_dec: dict[int, str] | None = None  # current font's byte->text map

    def dec(raw: bytes) -> str:
        if cur_dec is None:
            return raw.decode("latin-1")
        if cur_dec.get(_WIDTH_KEY) == "2":
            # Type0/CID font with a 2-byte code space: consume the show
            # string in 2-byte units (CJK PDFs); an odd trailing byte
            # degrades to a 1-byte lookup
            out: list[str] = []
            i = 0
            while i + 1 < len(raw):
                c = (raw[i] << 8) | raw[i + 1]
                out.append(cur_dec.get(c, chr(c)))
                i += 2
            if i < len(raw):
                out.append(cur_dec.get(raw[i], chr(raw[i])))
            return "".join(out)
        return "".join(
            cur_dec[b] if b in cur_dec else chr(b) for b in raw
        )

    def show(text: str, width: float) -> None:
        """Emit one span at the current text position and advance x."""
        nonlocal x, line
        if text:
            spans.append(Span(
                text=text,
                x0=round(x, 2),
                y0=round(y - 0.2 * size, 2),
                x1=round(x + width, 2),
                y1=round(y + 0.8 * size, 2),
                block=block if block >= 0 else 0,
                line=line,
            ))
            line += 1
        x += width

    def newline() -> None:
        nonlocal line_y, x, y
        line_y -= leading
        x, y = line_x, line_y

    for kind, val in _tokenize_content(stream):
        if kind in ("num", "str", "name"):
            stack.append((kind, val))
            continue
        if kind == "arrstart":
            stack.append(("mark", None))
            continue
        if kind == "arrend":
            elems: list = []
            while stack and stack[-1][0] != "mark":
                elems.append(stack.pop())
            if stack:
                stack.pop()  # the mark
            elems.reverse()
            stack.append(("arr", elems))
            continue
        op = val
        if op == "BT":
            block += 1
            line = 0
            x = y = line_x = line_y = 0.0
        elif op == "Tf" and len(stack) >= 2:
            size = float(stack[-1][1])
            if stack[-2][0] == "name":
                cur_dec = (fonts or {}).get(stack[-2][1])
        elif op == "TL" and stack:
            leading = float(stack[-1][1])
        elif op == "Td" and len(stack) >= 2:
            line_x += float(stack[-2][1])
            line_y += float(stack[-1][1])
            x, y = line_x, line_y
        elif op == "TD" and len(stack) >= 2:
            leading = -float(stack[-1][1])
            line_x += float(stack[-2][1])
            line_y += float(stack[-1][1])
            x, y = line_x, line_y
        elif op == "Tm" and len(stack) >= 6:
            line_x = float(stack[-2][1])
            line_y = float(stack[-1][1])
            x, y = line_x, line_y
        elif op == "T*":
            newline()
        elif op == "Tj" and stack and stack[-1][0] == "str":
            t = dec(stack[-1][1])
            show(t, 0.6 * size * len(t))
        elif op == "'" and stack and stack[-1][0] == "str":
            # move to next line, then show (PDF 32000-1 9.4.3)
            newline()
            t = dec(stack[-1][1])
            show(t, 0.6 * size * len(t))
        elif op == '"' and len(stack) >= 3 and stack[-1][0] == "str":
            # aw ac string " : set word/char spacing (no geometric effect in
            # our metric-free model), next line, show
            newline()
            t = dec(stack[-1][1])
            show(t, 0.6 * size * len(t))
        elif op == "TJ" and stack and stack[-1][0] == "arr":
            # array show: strings concatenate into ONE span (pypdf-style
            # extract_text behavior); numbers are kerning adjustments that
            # shift the advance by -n/1000 * size
            parts: list[str] = []
            width = 0.0
            for k, v in stack[-1][1]:
                if k == "str":
                    t = dec(v)
                    parts.append(t)
                    width += 0.6 * size * len(t)
                elif k == "num":
                    width -= v / 1000.0 * size
            show("".join(parts), width)
        if kind == "op":
            stack.clear()
    return spans


_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_OBJ_HDR_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_STREAM_START_RE = re.compile(rb"stream\r?\n")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(\s+\d+\s+R)?")
_INT_OBJ_RE = re.compile(rb"\A\s*(\d+)\s*\Z")


def _object_map(payload: bytes) -> tuple[dict[int, bytes], dict[int, bytes]]:
    """Sequential LENGTH-AWARE object scan: (dicts, stream payloads).

    Returns (objs, streams): `objs[oid]` is the object body with any stream
    payload REMOVED (safe for regex probing — a compressed payload cannot
    fake /Type or refs), `streams[oid]` the exact raw stream bytes.

    Why not the old single regex: `(.*?)endobj` terminates at the first
    literal `endobj` bytes, and a FlateDecode payload is arbitrary binary —
    when it contains those 6 bytes the object truncates and the page
    silently loses its content. Here stream payloads are skipped by their
    declared /Length (the spec's framing), so payload bytes are never
    scanned for markers. Indirect /Length (`N 0 R`) is resolved against
    integer objects seen in the same scan, with a deferred second pass for
    forward references; only a stream with an unresolvable /Length falls
    back to an `endstream` search."""
    objs: dict[int, bytes] = {}
    streams: dict[int, bytes] = {}
    ints: dict[int, int] = {}
    deferred: list[tuple[int, int, int]] = []  # (oid, data_start, len_ref)
    payload_ranges: list[tuple[int, int]] = []  # stream-data byte spans
    i = 0
    while True:
        m = _OBJ_HDR_RE.search(payload, i)
        if not m:
            break
        oid = int(m.group(1))
        body_start = m.end()
        sm = _STREAM_START_RE.search(payload, body_start)
        em = payload.find(b"endobj", body_start)
        if sm is not None and (em == -1 or sm.start() < em):
            head = payload[body_start:sm.start()]
            data_start = sm.end()
            lm = _LENGTH_RE.search(head)
            length = None
            if lm is not None:
                if lm.group(2) is None:
                    length = int(lm.group(1))
                elif int(lm.group(1)) in ints:
                    length = ints[int(lm.group(1))]
                else:
                    deferred.append((oid, data_start, int(lm.group(1))))
            if length is not None:
                data = payload[data_start:data_start + length]
                tail = payload.find(b"endobj", data_start + length)
                i = tail + 6 if tail != -1 else data_start + length
            else:
                # unresolvable yet: tentative endstream search (repaired in
                # the deferred pass when the length object appears later)
                es = payload.find(b"endstream", data_start)
                data = payload[data_start:es] if es != -1 else b""
                tail = payload.find(b"endobj", es if es != -1 else data_start)
                i = tail + 6 if tail != -1 else len(payload)
            objs[oid] = head
            streams[oid] = data
            payload_ranges.append((data_start, data_start + len(data)))
        else:
            body = payload[body_start:em] if em != -1 else payload[body_start:]
            objs[oid] = body
            im = _INT_OBJ_RE.match(body)
            if im:
                ints[oid] = int(im.group(1))
            i = em + 6 if em != -1 else len(payload)
    for oid, data_start, len_ref in deferred:
        if len_ref in ints:
            streams[oid] = payload[data_start:data_start + ints[len_ref]]
            payload_ranges.append((data_start, data_start + ints[len_ref]))
    # decrypt BEFORE ObjStm expansion (packed object data is encrypted as
    # part of its carrier stream). XRef streams are never encrypted (spec).
    dec = _parse_encryption(objs, payload, payload_ranges)
    if dec is not None:
        for oid in list(streams):
            if re.search(rb"/Type\s*/XRef\b", objs.get(oid, b"")):
                continue
            streams[oid] = dec(oid, streams[oid])
    _expand_object_streams(objs, streams)
    return objs, streams


def _expand_object_streams(objs: dict[int, bytes],
                           streams: dict[int, bytes]) -> None:
    """PDF 1.5+ /Type /ObjStm: non-stream objects packed into a compressed
    stream (how most modern writers store page/font dicts). The stream
    opens with /N pairs of `objnum offset` integers; object data begins at
    /First + offset. Contained objects are added to the map; a same-id
    object found at the top level wins (incremental-update convention:
    later uncompressed definitions supersede)."""
    for oid, head in list(objs.items()):
        if not re.search(rb"/Type\s*/ObjStm\b", head):
            continue
        data = _inflate(head, streams.get(oid, b""))
        if not data:
            continue
        nm = re.search(rb"/N\s+(\d+)", head)
        fm = re.search(rb"/First\s+(\d+)", head)
        if not nm or not fm:
            continue
        n, first = int(nm.group(1)), int(fm.group(1))
        nums = re.findall(rb"\d+", data[:first])
        pairs = [(int(nums[2 * j]), int(nums[2 * j + 1]))
                 for j in range(min(n, len(nums) // 2))]
        for j, (inner_oid, off) in enumerate(pairs):
            end = pairs[j + 1][1] + first if j + 1 < len(pairs) else len(data)
            if inner_oid not in objs:
                objs[inner_oid] = data[first + off:end]


def _lzw_decode(data: bytes) -> bytes:
    """PDF LZWDecode (TIFF-style LZW: 9->12-bit variable codes, clear=256,
    EOD=257, early code-width change). ~30 lines, spec section 7.4.4."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = bits = 0
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= width:
            code = (acc >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            if code == 256:  # clear table
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:  # KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # PDF uses early change: width grows one code before the table
            # index overflows the current width
            if len(table) >= (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)


_FILTER_RE = re.compile(rb"/Filter\s*(?:\[(.*?)\]|/(\w+))", re.DOTALL)


class UnsupportedEncryptionError(Exception):
    """Raised for encryption schemes this parser does not implement
    (AESV2/V3, crypt filters, non-Standard handlers). extract_document's
    total-function contract turns it into a quarantine record."""


# 32-byte password pad, PDF 32000-1 §7.6.3.3 (public spec constant)
_ENC_PAD = bytes.fromhex(
    "28BF4E5E4E758A4164004E56FFFA0108"
    "2E2E00B6D0683E802F0CA9FE6453697A"
)


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4 (symmetric). Standard KSA+PRGA, ~15 lines, public algorithm."""
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for ch in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(ch ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


def _gf_mul(a: int, b: int) -> int:
    """GF(2^8) multiply, AES polynomial x^8+x^4+x^3+x+1 (0x11B)."""
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B
        b >>= 1
    return p


def _aes_tables():
    """AES S-box and friends, DERIVED (not transcribed) from FIPS-197:
    S-box = affine transform of the GF(2^8) multiplicative inverse
    (§5.1.1); sanity-pinned by the FIPS-197 appendix vectors in tests.
    Cached after first use."""
    global _AES_T
    if _AES_T is not None:
        return _AES_T
    sbox = [0] * 256
    for x in range(256):
        inv = 0
        if x:
            acc, base, e = 1, x, 254  # x^254 = x^-1 in GF(2^8)
            while e:
                if e & 1:
                    acc = _gf_mul(acc, base)
                base = _gf_mul(base, base)
                e >>= 1
            inv = acc
        s = 0
        for i in range(8):
            bit = ((inv >> i) ^ (inv >> ((i + 4) % 8))
                   ^ (inv >> ((i + 5) % 8)) ^ (inv >> ((i + 6) % 8))
                   ^ (inv >> ((i + 7) % 8)) ^ (0x63 >> i)) & 1
            s |= bit << i
        sbox[x] = s
    inv_sbox = [0] * 256
    for i, s in enumerate(sbox):
        inv_sbox[s] = i
    mul = {c: [_gf_mul(x, c) for x in range(256)]
           for c in (2, 3, 9, 11, 13, 14)}
    _AES_T = (sbox, inv_sbox, mul)
    return _AES_T


_AES_T = None


def _aes_expand_key(key: bytes) -> list[list[int]]:
    """FIPS-197 §5.2 key schedule for all three key sizes: Nk = 4/6/8
    words (AES-128/192/256), Nr = Nk + 6 rounds, 4*(Nr+1) words out."""
    sbox, _, _ = _aes_tables()
    nk = len(key) // 4  # 4/6/8 words = AES-128/192/256
    if nk not in (4, 6, 8) or len(key) != 4 * nk:
        raise ValueError(f"AES key must be 16/24/32 bytes, got {len(key)}")
    nr = nk + 6
    w = [list(key[4 * i:4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [sbox[b] for b in t]
            t[0] ^= rcon
            rcon = _gf_mul(rcon, 2)
        elif nk > 6 and i % nk == 4:
            t = [sbox[b] for b in t]  # §5.2: extra SubWord for 256-bit keys
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return w


def _aes_round_keys(key: bytes) -> list[list[int]]:
    w = _aes_expand_key(key)
    nr = len(key) // 4 + 6
    return [[b for word in w[4 * r:4 * r + 4] for b in word]
            for r in range(nr + 1)]


# state is the flat 16-byte block; column c = s[4c:4c+4], row r = s[r::4]
_SHIFT = [(r + 4 * ((c + r) % 4)) + 0 for c in range(4) for r in range(4)]
_INV_SHIFT = [(r + 4 * ((c - r) % 4)) for c in range(4) for r in range(4)]


def _aes_encrypt_block(rk: list[list[int]], block: bytes) -> bytes:
    sbox, _, mul = _aes_tables()
    s = [b ^ k for b, k in zip(block, rk[0])]
    for rnd in range(1, len(rk) - 1):
        s = [sbox[x] for x in s]                      # SubBytes
        s = [s[_SHIFT[i]] for i in range(16)]         # ShiftRows
        t = []
        for c in range(4):                            # MixColumns
            b0, b1, b2, b3 = s[4 * c:4 * c + 4]
            t += [mul[2][b0] ^ mul[3][b1] ^ b2 ^ b3,
                  b0 ^ mul[2][b1] ^ mul[3][b2] ^ b3,
                  b0 ^ b1 ^ mul[2][b2] ^ mul[3][b3],
                  mul[3][b0] ^ b1 ^ b2 ^ mul[2][b3]]
        s = [x ^ k for x, k in zip(t, rk[rnd])]       # AddRoundKey
    s = [sbox[x] for x in s]
    s = [s[_SHIFT[i]] for i in range(16)]
    return bytes(x ^ k for x, k in zip(s, rk[-1]))


def _aes_decrypt_block(rk: list[list[int]], block: bytes) -> bytes:
    _, inv_sbox, mul = _aes_tables()
    s = [b ^ k for b, k in zip(block, rk[-1])]
    for rnd in range(len(rk) - 2, 0, -1):
        s = [s[_INV_SHIFT[i]] for i in range(16)]     # InvShiftRows
        s = [inv_sbox[x] for x in s]                  # InvSubBytes
        s = [x ^ k for x, k in zip(s, rk[rnd])]       # AddRoundKey
        t = []
        for c in range(4):                            # InvMixColumns
            b0, b1, b2, b3 = s[4 * c:4 * c + 4]
            t += [mul[14][b0] ^ mul[11][b1] ^ mul[13][b2] ^ mul[9][b3],
                  mul[9][b0] ^ mul[14][b1] ^ mul[11][b2] ^ mul[13][b3],
                  mul[13][b0] ^ mul[9][b1] ^ mul[14][b2] ^ mul[11][b3],
                  mul[11][b0] ^ mul[13][b1] ^ mul[9][b2] ^ mul[14][b3]]
        s = t
    s = [s[_INV_SHIFT[i]] for i in range(16)]
    s = [inv_sbox[x] for x in s]
    return bytes(x ^ k for x, k in zip(s, rk[0]))


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF AESV2/AESV3 stream layout (32000-1 §7.6.2): first 16 bytes are
    the IV, remainder is CBC ciphertext with RFC 2898 (PKCS#5-style)
    padding; key is 16 bytes (AESV2) or 32 (AESV3) — the round count
    follows the key size through _aes_round_keys.
    Malformed input (not block-aligned / bad pad) returns b'' rather than
    raising — the caller's total-function contract treats the object as
    non-text-bearing.

    CBC DECRYPTION is block-parallel (each plaintext block needs only two
    ciphertext blocks), so the inverse cipher runs VECTORIZED over every
    block at once via numpy table lookups (~100x the per-byte Python
    loop — this sits on the extraction hot path for encrypted PDFs); the
    scalar block functions above remain for the encrypt side (fixtures)
    and as the FIPS-vector cross-check in tests."""
    if len(data) < 32 or (len(data) - 16) % 16:
        return b""
    _, inv_sbox, mul = _aes_tables()
    inv_s = np.asarray(inv_sbox, np.uint8)
    m9, m11, m13, m14 = (np.asarray(mul[c], np.uint8)
                         for c in (9, 11, 13, 14))
    inv_shift = np.asarray(_INV_SHIFT)
    rk = [np.asarray(k, np.uint8) for k in _aes_round_keys(key)]
    ct = np.frombuffer(data, np.uint8)[16:].reshape(-1, 16)
    s = ct ^ rk[-1]
    for rnd in range(len(rk) - 2, 0, -1):
        s = inv_s[s[:, inv_shift]]            # InvShiftRows + InvSubBytes
        s = s ^ rk[rnd]                       # AddRoundKey
        b = s.reshape(-1, 4, 4)               # (block, column, row)
        b0, b1, b2, b3 = b[:, :, 0], b[:, :, 1], b[:, :, 2], b[:, :, 3]
        s = np.stack([                        # InvMixColumns
            m14[b0] ^ m11[b1] ^ m13[b2] ^ m9[b3],
            m9[b0] ^ m14[b1] ^ m11[b2] ^ m13[b3],
            m13[b0] ^ m9[b1] ^ m14[b2] ^ m11[b3],
            m11[b0] ^ m13[b1] ^ m9[b2] ^ m14[b3],
        ], axis=2).reshape(-1, 16)
    s = inv_s[s[:, inv_shift]] ^ rk[0]
    prev = np.vstack([np.frombuffer(data[:16], np.uint8), ct[:-1]])
    out = (s ^ prev).tobytes()
    pad = out[-1]
    return out[:-pad] if 1 <= pad <= 16 else b""


def _aes_cbc_encrypt(key: bytes, data: bytes, iv: bytes) -> bytes:
    """Forward CBC (fixture-builder path only): IV || ciphertext with
    RFC 2898 padding, the exact layout _aes_cbc_decrypt parses. Key may
    be 16/24/32 bytes (AESV2 streams use 16, AESV3 streams 32)."""
    pad = 16 - (len(data) % 16)
    data = data + bytes([pad]) * pad
    return iv + _aes_cbc_encrypt_nopad(key, iv, data)


def _aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC forward transform — no padding, no IV prefix. This is the
    inner cipher of the PDF 2.0 hardened hash (ISO 32000-2 Algorithm 2.B)
    and the /UE-entry wrapping; len(data) must be a block multiple."""
    rk = _aes_round_keys(key)
    prev = iv
    out = bytearray()
    for i in range(0, len(data), 16):
        blk = bytes(p ^ c for p, c in zip(data[i:i + 16], prev))
        prev = _aes_encrypt_block(rk, blk)
        out += prev
    return bytes(out)


def _aes_cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC inverse — no padding, no IV prefix (the /UE file-key
    unwrap, ISO 32000-2 Algorithm 2.A step f)."""
    rk = _aes_round_keys(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i:i + 16]
        out += bytes(p ^ c
                     for p, c in zip(_aes_decrypt_block(rk, blk), prev))
        prev = blk
    return bytes(out)


@_functools.lru_cache(maxsize=256)
def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 §7.6.4.3.4 Algorithm 2.B — the R6 hardened password
    hash: iterated SHA-256/384/512 selected by an AES-128-CBC encryption
    of the previous digest, ≥64 rounds, data-dependent termination
    (stop once round ≥ 64 and the last ciphertext byte ≤ round − 32).

    The inner AES-CBC chain is inherently sequential (each block feeds
    the next), so this costs ~64-250 scalar block encrypts × 128-256
    blocks in pure Python — order 100 ms per DISTINCT (password, salt,
    udata) triple. The lru_cache amortizes that to once per Python
    worker per distinct /Encrypt dictionary: every page object of the
    same file (and every file sharing a security dictionary) reuses the
    cached digest. Real-world cost disclosure lives in BENCH/BASELINE.md."""
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    count = 0
    while True:
        count += 1
        k1 = (password + k + udata) * 64
        e = _aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        if count >= 64 and e[-1] <= count - 32:
            return k[:32]


def _balanced_subdict(body: bytes, key: bytes) -> bytes | None:
    """Body of the `/key << ... >>` sub-dictionary, with nested << >>
    balanced (PDF dict values can nest arbitrarily — a naive regex over
    the whole parent dict grabs keys from the WRONG sub-dict)."""
    m = re.search(rb"/" + re.escape(key) + rb"(?![0-9A-Za-z])\s*<<", body)
    if not m:
        return None
    i = m.end()
    depth = 1
    j = i
    while j < len(body) - 1 and depth:
        if body[j:j + 2] == b"<<":
            depth += 1
            j += 2
        elif body[j:j + 2] == b">>":
            depth -= 1
            j += 2
        else:
            j += 1
    return body[i:j - 2] if depth == 0 else None


def _strip_subdict(body: bytes, key: bytes) -> bytes:
    """`body` with the `/key << ... >>` sub-dictionary removed (balanced) —
    so top-level keys like /Length can be read without colliding with the
    same names inside the sub-dict."""
    m = re.search(rb"/" + re.escape(key) + rb"(?![0-9A-Za-z])\s*<<", body)
    if not m:
        return body
    inner = _balanced_subdict(body, key)
    if inner is None:
        return body
    end = body.index(inner, m.end()) + len(inner) + 2
    return body[:m.start()] + body[end:]


def _dict_string(body: bytes, key: bytes) -> bytes | None:
    """Value of /key when it is a direct PDF string — literal (…) with
    escapes/nesting or hex <…>. The name must END at the key (negative
    lookahead): without it, looking up /U in a dict ordered '/UE <…> …
    /U <…>' matches the '/U' prefix of /UE, sees a non-string value, and
    spuriously returns None — dict key order is arbitrary in PDF."""
    m = re.search(rb"/" + key + rb"(?![0-9A-Za-z])\s*", body)
    if not m:
        return None
    i = m.end()
    if body[i:i + 1] == b"<":
        j = body.find(b">", i + 1)
        return _hex_bytes(body[i + 1:j])
    if body[i:i + 1] != b"(":
        return None
    raw, _ = _scan_literal_string(body, i + 1)
    return _unescape_pdf_bytes(raw)


def _stmf_cfm(enc: bytes, v: int) -> bytes | None:
    """Resolve the STREAM crypt filter's /CFM name for crypt-filter
    encryption dictionaries (V=4/5). Returns None when /StmF is
    /Identity — streams are in the clear (strings-only crypt; we only
    ever decrypt streams, strings never reach extraction).

    The /CFM must come from THE named filter's sub-dict inside /CF — a
    dict can define several filters, and grabbing the first /CFM anywhere
    would silently pick the wrong algorithm (garbage output, not a
    quarantine: the /U password check is CFM-independent). /StmF itself
    is a TOP-LEVEL key: read it with /CF stripped so a /StmF-named key
    inside a filter sub-dict cannot shadow it. A crypt-filter V without a
    /CF dictionary is malformed — quarantine rather than guess (spec's
    /StmF default of Identity only applies to well-formed dicts)."""
    cf = _balanced_subdict(enc, b"CF")
    if cf is None:
        raise UnsupportedEncryptionError(f"V={v} without /CF definition")
    enc_top = _strip_subdict(enc, b"CF")
    stmf = re.search(rb"/StmF\s*/(\w+)", enc_top)
    stmf_name = stmf.group(1) if stmf else b"Identity"
    if stmf_name == b"Identity":
        return None
    named = _balanced_subdict(cf, stmf_name)
    if named is None:
        raise UnsupportedEncryptionError(
            f"/StmF names undefined crypt filter "
            f"/{stmf_name.decode('latin-1')}"
        )
    cfm = re.search(rb"/CFM\s*/(\w+)", named)
    if cfm is None:
        raise UnsupportedEncryptionError("crypt filter without /CFM")
    return cfm.group(1)


def _parse_encryption_v5(enc: bytes, r: int):
    """AES-256 Standard security (V=5): R=6 is ISO 32000-2 §7.6.4 (PDF
    2.0), R=5 the deprecated Adobe Extension Level 3 precursor (plain
    SHA-256 in place of the hardened hash — same entry layout, still
    found in 2008-2011 crawl documents). EMPTY user password only, like
    the V≤4 path.

    Validation + key recovery (Algorithms 2.A / 11): /U is 48 bytes =
    hash(32) || validation salt(8) || key salt(8); the user password
    validates when hash(password, vsalt) matches U[:32]; the file key is
    AES-256-CBC-decrypt(hash(password, ksalt), iv=0, /UE). Unlike V≤4
    there is NO per-object key derivation — every stream decrypts with
    the one file key, IV prefixed to the ciphertext (§7.6.3.3). When
    /Perms is present its decryption must contain 'adb' at bytes 9-11
    (Algorithm 13) — a file-key integrity check, so failure quarantines
    rather than risking garbage output."""
    import hashlib

    cfm = _stmf_cfm(enc, 5)
    if cfm is None:
        return None
    if cfm != b"AESV3":
        raise UnsupportedEncryptionError(
            f"V=5 crypt filter /CFM /{cfm.decode('latin-1')}"
        )
    u = _dict_string(enc, b"U")
    ue = _dict_string(enc, b"UE")
    if u is None or len(u) < 48 or ue is None or len(ue) != 32:
        raise UnsupportedEncryptionError("malformed /U or /UE")
    vsalt, ksalt = u[32:40], u[40:48]
    if r == 6:
        u_hash = _hash_2b(b"", vsalt, b"")
        ikey = _hash_2b(b"", ksalt, b"")
    else:  # R=5: single SHA-256, no hardening loop
        u_hash = hashlib.sha256(vsalt).digest()
        ikey = hashlib.sha256(ksalt).digest()
    if u_hash != u[:32]:
        raise UnsupportedEncryptionError(
            "password-protected (empty user password rejected by /U check)"
        )
    file_key = _aes_cbc_decrypt_nopad(ikey, b"\x00" * 16, ue)
    perms = _dict_string(enc, b"Perms")
    if perms is not None and len(perms) == 16:
        pd = _aes_decrypt_block(_aes_round_keys(file_key), perms)
        if pd[9:12] != b"adb":
            raise UnsupportedEncryptionError(
                "/Perms check failed (corrupt file encryption key)"
            )

    def decrypt(oid: int, data: bytes, gen: int = 0) -> bytes:
        return _aes_cbc_decrypt(file_key, data)

    return decrypt


def _parse_encryption(objs: dict[int, bytes], payload: bytes,
                      payload_ranges: list[tuple[int, int]] | None = None):
    """Standard security handler, EMPTY user password — the silent-open
    default (what pypdf attempts first; reference extracts via pypdf at
    no-ocr-api/np_ocr/data.py:18-23). Covers RC4 (V 1-2, R 2-3) and
    AES-128 crypt filters (V 4, R 4, /CFM /AESV2 — the dominant
    encrypted-PDF config since PDF 1.6 — plus /CFM /V2 = RC4-under-V4)
    and AES-256 (V 5, R 5/6, /CFM /AESV3 — PDF 2.0 / Adobe ext. level 3,
    handled by _parse_encryption_v5). Returns a per-object stream
    decryptor, or None when the file is not encrypted (or /StmF
    /Identity leaves streams in the clear). Raises
    UnsupportedEncryptionError for exotic crypt filters and non-empty
    user passwords.

    Key schedule is PDF 32000-1 Algorithm 2 (public spec): md5(pad || /O ||
    P as little-endian int32 || file ID[0] [|| ffffffff when V>=4 and
    /EncryptMetadata false]), 50 extra md5 rounds when R>=3, then
    per-object md5(key || objnum_le3 || gen_le2 [|| 'sAlT' for AES]);
    AESV2 stream layout is IV || CBC ciphertext (§7.6.2), decrypted by the
    from-scratch FIPS-197 implementation above."""
    import hashlib
    import struct

    # Look for /Encrypt only in TRAILER dictionaries (after the `trailer`
    # keyword, or inside /Type /XRef stream dicts for xref-stream files) —
    # grepping the whole payload re-admits the payload-marker failure mode
    # the length-aware object scan exists to prevent (an unencrypted PDF
    # QUOTING '/Encrypt 9 0 R' in a content stream must not trip this).
    # `trailer` keywords INSIDE stream payloads are masked by the spans the
    # object scan recorded.
    ranges = payload_ranges or []

    def in_stream(pos: int) -> bool:
        return any(a <= pos < b for a, b in ranges)

    regions = [payload[m.end():m.end() + 2048]
               for m in re.finditer(rb"trailer", payload)
               if not in_stream(m.start())]
    regions += [body for body in objs.values()
                if re.search(rb"/Type\s*/XRef\b", body)]
    refs = [r for region in regions
            for r in re.findall(rb"/Encrypt\s+(\d+)\s+\d+\s+R", region)]
    if not refs:
        return None
    enc = objs.get(int(refs[-1]))
    if enc is None:
        raise UnsupportedEncryptionError("missing /Encrypt dictionary")
    if not re.search(rb"/Filter\s*/Standard\b", enc):
        raise UnsupportedEncryptionError("non-Standard security handler")
    v = int((re.search(rb"/V\s+(\d+)", enc) or [None, b"0"])[1])
    r = int((re.search(rb"/R\s+(\d+)", enc) or [None, b"2"])[1])
    use_aes = False
    extra_key_salt = b""
    if v in (1, 2) and r in (2, 3):
        pass  # classic RC4
    elif v == 4 and r == 4:
        cfm = _stmf_cfm(enc, v)
        if cfm is None:
            return None  # streams are in the clear (strings-only crypt)
        if cfm == b"AESV2":
            use_aes = True
        elif cfm != b"V2":
            raise UnsupportedEncryptionError(
                f"crypt filter /CFM /{cfm.decode('latin-1')}"
            )
        if re.search(rb"/EncryptMetadata\s+false",
                     _strip_subdict(enc, b"CF")):
            extra_key_salt = b"\xff\xff\xff\xff"
    elif v == 5 and r in (5, 6):
        return _parse_encryption_v5(enc, r)
    else:
        raise UnsupportedEncryptionError(f"V={v} R={r} encryption")
    # /Length (bits) is a TOP-LEVEL key; crypt-filter sub-dicts carry
    # their own /Length in BYTES — strip /CF before reading, or a V4 dict
    # ordered '/CF <<...>> /Length 128' would yield a 2-byte RC4 key and
    # falsely quarantine a valid file at the /U check
    enc_sans_cf = _strip_subdict(enc, b"CF") if v == 4 else enc
    bits = int(
        (re.search(rb"/Length\s+(\d+)", enc_sans_cf) or [None, b"40"])[1]
    )
    n = 16 if use_aes else max(5, min(16, bits // 8))
    o = _dict_string(enc, b"O")
    pm = re.search(rb"/P\s+(-?\d+)", enc)
    if o is None or len(o) != 32 or pm is None:
        raise UnsupportedEncryptionError("malformed /O or /P")
    p = int(pm.group(1)) & 0xFFFFFFFF
    ids = [i for region in regions
           for i in re.findall(rb"/ID\s*\[\s*<([0-9a-fA-F\s]*)>", region)]
    id0 = bytes.fromhex(ids[-1].decode("ascii").replace(" ", "")) if ids else b""
    key = hashlib.md5(
        _ENC_PAD + o + struct.pack("<I", p) + id0 + extra_key_salt
    ).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    key = key[:n]

    # Verify the empty user password actually opens this file (spec
    # Algorithms 4/5: recompute /U from the key and compare) — without
    # this, a non-empty-password PDF would silently "decrypt" with a wrong
    # key into garbage instead of being quarantined.
    u = _dict_string(enc, b"U")
    if u is None or len(u) < 16:
        raise UnsupportedEncryptionError("malformed /U")
    if r == 2:
        u_expect = _rc4(key, _ENC_PAD)
        ok = u[:32] == u_expect
    else:
        x = hashlib.md5(_ENC_PAD + id0).digest()
        u_expect = _rc4(key, x)
        for i in range(1, 20):
            u_expect = _rc4(bytes(b ^ i for b in key), u_expect)
        ok = u[:16] == u_expect  # R3 compares the first 16 bytes only
    if not ok:
        raise UnsupportedEncryptionError(
            "password-protected (empty user password rejected by /U check)"
        )

    obj_salt = b"sAlT" if use_aes else b""  # §7.6.2: AES appends 0x73416C54

    def decrypt(oid: int, data: bytes, gen: int = 0) -> bytes:
        ok = hashlib.md5(
            key + oid.to_bytes(3, "little") + gen.to_bytes(2, "little")
            + obj_salt
        ).digest()[: min(n + 5, 16)]
        return _aes_cbc_decrypt(ok, data) if use_aes else _rc4(ok, data)

    return decrypt


def _inflate(head: bytes, data: bytes) -> bytes | None:
    """Apply the object's /Filter chain (a name or an array of names, in
    order): FlateDecode, LZWDecode, ASCIIHexDecode, ASCII85Decode. Unknown
    filters (DCT, JBIG2, CCITT — image codecs) return None: the stream is
    not text-bearing for this parser."""
    m = _FILTER_RE.search(head)
    if not m:
        return data
    if m.group(2) is not None:
        filters = [m.group(2)]
    else:
        filters = re.findall(rb"/(\w+)", m.group(1))
    for f in filters:
        try:
            if f in (b"FlateDecode", b"Fl"):
                data = zlib.decompress(data)
            elif f in (b"LZWDecode", b"LZW"):
                data = _lzw_decode(data)
            elif f in (b"ASCIIHexDecode", b"AHx"):
                data = _hex_bytes(data.split(b">")[0])
            elif f in (b"ASCII85Decode", b"A85"):
                import base64

                body = data.split(b"~>")[0]
                body = bytes(c for c in body if c not in b" \t\r\n\x00")
                data = base64.a85decode(body, adobe=False)
            else:
                return None
        # IndexError: corrupt LZW data can reference a not-yet-defined
        # table slot — same "stream is not usable" outcome as a bad inflate
        except (zlib.error, ValueError, IndexError):
            return None
    return data


# --------------------------------------------------------------------------
# font encodings: /Encoding /Differences + /ToUnicode CMaps
#
# Glyph names resolve through a subset of the Adobe Glyph List (public,
# github.com/adobe-type-tools/agl-aglfn) covering Latin text PDFs, plus the
# uniXXXX / uXX..XX algorithmic forms from Adobe's AGL specification.

_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "fi": "ﬁ", "fl": "ﬂ",
    "Euro": "€", "degree": "°", "copyright": "©",
    "registered": "®", "trademark": "™",
    "cent": "¢", "sterling": "£", "yen": "¥",
    "section": "§", "paragraph": "¶",
    "exclamdown": "¡", "questiondown": "¿",
    "guillemotleft": "«", "guillemotright": "»",
    "germandbls": "ß", "ae": "æ", "AE": "Æ",
    "oslash": "ø", "Oslash": "Ø", "oe": "œ", "OE": "Œ",
    "dotlessi": "ı", "lslash": "ł", "Lslash": "Ł",
    "thorn": "þ", "Thorn": "Þ", "eth": "ð", "Eth": "Ð",
}
# single letters map to themselves
for _c in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
    _AGL[_c] = _c
# accented Latin: <base><accent-suffix> forms used by Standard/WinAnsi
for _base, _acc, _ch in [
    ("a", "grave", "à"), ("a", "acute", "á"),
    ("a", "circumflex", "â"), ("a", "tilde", "ã"),
    ("a", "dieresis", "ä"), ("a", "ring", "å"),
    ("c", "cedilla", "ç"),
    ("e", "grave", "è"), ("e", "acute", "é"),
    ("e", "circumflex", "ê"), ("e", "dieresis", "ë"),
    ("i", "grave", "ì"), ("i", "acute", "í"),
    ("i", "circumflex", "î"), ("i", "dieresis", "ï"),
    ("n", "tilde", "ñ"),
    ("o", "grave", "ò"), ("o", "acute", "ó"),
    ("o", "circumflex", "ô"), ("o", "tilde", "õ"),
    ("o", "dieresis", "ö"),
    ("u", "grave", "ù"), ("u", "acute", "ú"),
    ("u", "circumflex", "û"), ("u", "dieresis", "ü"),
    ("y", "acute", "ý"), ("y", "dieresis", "ÿ"),
]:
    _AGL[_base + _acc] = _ch
    _AGL[_base.upper() + _acc] = _ch.upper()


def _glyph_to_text(name: str) -> str | None:
    if name in _AGL:
        return _AGL[name]
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})", name)
    if m:
        return chr(int(m.group(1), 16))
    m = re.fullmatch(r"u([0-9A-Fa-f]{4,6})", name)
    if m:
        cp = int(m.group(1), 16)
        return chr(cp) if cp <= 0x10FFFF else None
    return None


# sentinel key inside a decode map carrying the code width ("2" = 2-byte
# Type0/CID code space); real codes are non-negative so -1 never collides
_WIDTH_KEY = -1


def _parse_tounicode(data: bytes) -> dict[int, str]:
    """ToUnicode CMap -> {code: text}, 1- or 2-byte code space. Handles
    bfchar, bfrange with an end target, and bfrange with an array of
    targets; dst hex is UTF-16BE (possibly multi-unit, e.g. ligature
    expansions). A 2-byte space (4-hex src codes or a <0000>-style
    codespacerange) marks the map with _WIDTH_KEY so the interpreter
    consumes show strings in 2-byte units (CJK PDFs)."""
    out: dict[int, str] = {}
    width = 1

    def dst_text(hx: bytes) -> str:
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii")).decode("utf-16-be",
                                                         "ignore")

    for m in re.finditer(rb"begincodespacerange(.*?)endcodespacerange",
                         data, re.DOTALL):
        if re.search(rb"<[0-9A-Fa-f]{4}>", m.group(1)):
            width = 2
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.DOTALL):
        for sm in re.finditer(
            rb"<([0-9A-Fa-f]{2}|[0-9A-Fa-f]{4})>\s*<([0-9A-Fa-f]+)>",
            m.group(1),
        ):
            if len(sm.group(1)) > 2:
                width = 2
            out[int(sm.group(1), 16)] = dst_text(sm.group(2))
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.DOTALL):
        body = m.group(1)
        for sm in re.finditer(
            rb"<([0-9A-Fa-f]{2}|[0-9A-Fa-f]{4})>\s*"
            rb"<([0-9A-Fa-f]{2}|[0-9A-Fa-f]{4})>\s*<([0-9A-Fa-f]+)>",
            body,
        ):
            if len(sm.group(1)) > 2:
                width = 2
            lo, hi = int(sm.group(1), 16), int(sm.group(2), 16)
            base = dst_text(sm.group(3))
            for c in range(lo, hi + 1):
                # increment applies to the LAST code unit (CMap spec)
                out[c] = base[:-1] + chr(ord(base[-1]) + (c - lo)) if base \
                    else ""
        for sm in re.finditer(
            rb"<([0-9A-Fa-f]{2}|[0-9A-Fa-f]{4})>\s*"
            rb"<(?:[0-9A-Fa-f]{2}|[0-9A-Fa-f]{4})>\s*\[(.*?)\]",
            body, re.DOTALL,
        ):
            if len(sm.group(1)) > 2:
                width = 2
            lo = int(sm.group(1), 16)
            targets = re.findall(rb"<([0-9A-Fa-f]+)>", sm.group(2))
            for j, t in enumerate(targets):
                out[lo + j] = dst_text(t)
    if width == 2 and out:
        out[_WIDTH_KEY] = "2"
    return out


def _balanced_dict(body: bytes, start: int) -> bytes | None:
    """Bytes of the << ... >> region beginning at/after `start`."""
    i = body.find(b"<<", start)
    if i == -1:
        return None
    depth = 0
    j = i
    n = len(body)
    while j < n - 1:
        if body[j:j + 2] == b"<<":
            depth += 1
            j += 2
        elif body[j:j + 2] == b">>":
            depth -= 1
            j += 2
            if depth == 0:
                return body[i:j]
        else:
            j += 1
    return None


def _resolve_dict(objs: dict[int, bytes], body: bytes, key: bytes) -> bytes | None:
    """Value of /key in `body` as dict bytes: inline << >> or indirect ref."""
    m = re.search(rb"/" + key + rb"\s*(<<|\d+\s+\d+\s+R)", body)
    if not m:
        return None
    if m.group(1) == b"<<":
        return _balanced_dict(body, m.start(1))
    rm = _REF_RE.match(m.group(1))
    return objs.get(int(rm.group(1))) if rm else None


def _base_encoding_map(name: bytes) -> dict[int, str]:
    """WinAnsiEncoding (CP1252) / MacRomanEncoding byte maps for the range
    where they diverge from latin-1 (0x80 up). Built from the stdlib
    codecs — deterministic, no tables to transcribe; undefined bytes stay
    latin-1."""
    codec = {b"WinAnsiEncoding": "cp1252",
             b"MacRomanEncoding": "mac_roman"}.get(name)
    if codec is None:
        return {}
    out: dict[int, str] = {}
    for b in range(0x80, 0x100):
        try:
            ch = bytes([b]).decode(codec)
        except UnicodeDecodeError:
            continue
        if ch != chr(b):
            out[b] = ch
    return out


def _font_decoder(objs: dict[int, bytes], streams: dict[int, bytes],
                  font_body: bytes) -> dict[int, str] | None:
    """Byte-code -> text map for one font object, or None for plain
    latin-1 (no base encoding, no /Differences, no usable /ToUnicode).
    Precedence low-to-high: base encoding (/WinAnsiEncoding /
    /MacRomanEncoding, as the /Encoding name itself or the dict's
    /BaseEncoding), then /Differences, then /ToUnicode (pypdf's extraction
    order): the CMap states extraction semantics directly, Differences
    states glyph identity, the base encoding fills the rest."""
    dec: dict[int, str] = {}
    nm = re.search(rb"/Encoding\s*/(\w+)", font_body)
    if nm:
        dec.update(_base_encoding_map(nm.group(1)))
    enc = _resolve_dict(objs, font_body, b"Encoding")
    if enc is not None:
        bm = re.search(rb"/BaseEncoding\s*/(\w+)", enc)
        if bm:
            dec.update(_base_encoding_map(bm.group(1)))
        dm = re.search(rb"/Differences\s*\[(.*?)\]", enc, re.DOTALL)
        if dm:
            code = 0
            for tok in re.finditer(rb"(\d+)|/([^\s/\[\]<>()]+)",
                                   dm.group(1)):
                if tok.group(1) is not None:
                    code = int(tok.group(1))
                else:
                    t = _glyph_to_text(tok.group(2).decode("latin-1"))
                    if t is not None:
                        dec[code] = t
                    code += 1
    tm = re.search(rb"/ToUnicode\s+(\d+)\s+\d+\s+R", font_body)
    if tm:
        oid = int(tm.group(1))
        if oid in streams:
            data = _inflate(objs.get(oid, b""), streams[oid])
            if data:
                dec.update(_parse_tounicode(data))
    return dec or None


def _page_fonts(objs: dict[int, bytes], streams: dict[int, bytes],
                res_body: bytes | None) -> dict[str, dict[int, str]]:
    """/Resources -> {font resource name: decode map} (identity fonts
    omitted — absent names decode latin-1, the pre-encoding behavior)."""
    if res_body is None:
        return {}
    fonts = _resolve_dict(objs, res_body, b"Font")
    if fonts is None:
        return {}
    out: dict[str, dict[int, str]] = {}
    for m in re.finditer(rb"/([^\s/\[\]<>()]+)\s+(\d+)\s+\d+\s+R", fonts):
        fbody = objs.get(int(m.group(2)))
        if fbody is None:
            continue
        dec = _font_decoder(objs, streams, fbody)
        if dec:
            out[m.group(1).decode("latin-1")] = dec
    return out


def _media_box_of(body: bytes):
    m = re.search(
        rb"/MediaBox\s*\[\s*([\d.eE+-]+)\s+([\d.eE+-]+)\s+"
        rb"([\d.eE+-]+)\s+([\d.eE+-]+)\s*\]", body)
    if not m:
        return None
    try:
        return tuple(float(g) for g in m.groups())
    except ValueError:
        return None


def _page_tree_walk(
    payload: bytes,
) -> list[tuple[bytes, dict[str, dict[int, str]],
                tuple[float, float, float, float] | None]] | None:
    """THE single page-tree traversal: walk Catalog -> /Pages -> /Kids
    recursively and return one (content-bytes, font decode maps,
    media-box-or-None) triple per page IN PAGE-TREE ORDER (the
    document's true page order, which need not match object file
    order). /Resources AND /MediaBox inherit down the tree per the spec
    (a page without its own uses the nearest ancestor's). Both the span
    parser and the rasterizer's box lookup consume this one walk, so
    their per-page pairing cannot diverge (a prior duplicate walk was a
    review finding) and the object scan + decryption run once. None
    when no usable tree exists."""
    objs, streams = _object_map(payload)
    root = None
    for body in objs.values():
        if re.search(rb"/Type\s*/Catalog\b", body):
            m = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", body)
            if m:
                root = int(m.group(1))
                break
    if root is None or root not in objs:
        return None
    pages: list = []
    seen: set[int] = set()

    def res_of(body: bytes) -> bytes | None:
        return _resolve_dict(objs, body, b"Resources")

    def walk(num: int, inherited_res: bytes | None, inherited_box) -> None:
        if num in seen or num not in objs:
            return
        seen.add(num)
        body = objs[num]
        if re.search(rb"/Type\s*/Pages\b", body):
            res = res_of(body) or inherited_res
            box = _media_box_of(body) or inherited_box
            kids = re.search(rb"/Kids\s*\[(.*?)\]", body, re.DOTALL)
            if kids:
                for m in _REF_RE.finditer(kids.group(1)):
                    walk(int(m.group(1)), res, box)
        elif re.search(rb"/Type\s*/Page\b", body):
            cm = re.search(rb"/Contents\s*(\[[^\]]*\]|\d+\s+\d+\s+R)", body)
            datas: list[bytes] = []
            if cm:
                for rm in _REF_RE.finditer(cm.group(1)):
                    if int(rm.group(1)) in streams:
                        d = _inflate(objs.get(int(rm.group(1)), b""),
                                     streams[int(rm.group(1))])
                        if d is not None:
                            datas.append(d)
            fonts = _page_fonts(objs, streams, res_of(body) or inherited_res)
            pages.append((b"\n".join(datas), fonts,
                          _media_box_of(body) or inherited_box))

    walk(root, None, None)
    return pages if pages else None


def _page_content_streams(
    payload: bytes,
) -> list[tuple[bytes, dict[str, dict[int, str]]]] | None:
    walked = _page_tree_walk(payload)
    if walked is None:
        return None
    return [(content, fonts) for content, fonts, _box in walked]


DEFAULT_MEDIA_BOX = (0.0, 0.0, 612.0, 792.0)  # US-Letter


def page_media_boxes(payload: bytes) -> list[tuple[float, float,
                                                   float, float]]:
    """Per-page /MediaBox (x0, y0, x1, y1 points) in page-tree order,
    inherited down the tree per the spec; missing everywhere ->
    US-Letter. Files without a parseable tree yield [] (caller
    defaults). Thin wrapper over the shared _page_tree_walk."""
    walked = _page_tree_walk(payload)
    if walked is None:
        return []
    return [box or DEFAULT_MEDIA_BOX for _c, _f, box in walked]


def parse_pdf_full(payload: bytes) -> tuple[
        list[list[Span]], list[tuple[float, float, float, float]]]:
    """(span pages, media boxes) from ONE object scan + tree walk — the
    rasterizer's entry point (parse_pdf + page_media_boxes separately
    would decrypt and scan the file twice; review finding)."""
    walked = _page_tree_walk(payload)
    if walked is not None:
        spans = [_parse_content_stream(c, fonts) for c, fonts, _b in walked]
        boxes = [b or DEFAULT_MEDIA_BOX for _c, _f, b in walked]
        return spans, boxes
    pages = parse_pdf(payload)  # tree-less fallback (file order)
    return pages, [DEFAULT_MEDIA_BOX] * len(pages)


def parse_pdf(payload: bytes) -> list[list[Span]]:
    """PDF bytes -> one Span list per page (pages in document order).

    Page order comes from the document page tree (Catalog -> /Pages /Kids
    walk; handles nested tree nodes, /Contents arrays, and object file
    order != page order). Files without a parseable tree fall back to
    content-stream file order. FlateDecode'd streams are inflated when the
    object dict says /FlateDecode.
    """
    tree_pages = _page_content_streams(payload)
    if tree_pages is not None:
        return [_parse_content_stream(s, fonts) for s, fonts in tree_pages]
    pages: list[list[Span]] = []
    for m in _STREAM_RE.finditer(payload):
        head = payload[max(0, m.start() - 200):m.start()]
        data = _inflate(head, m.group(1))  # full filter-chain support
        if data is None:
            # undecodable (image codec / bad compression): keep a
            # placeholder page when the object is framed, so later pages'
            # 1-based numbering still matches their document position
            if b"/Length" in head:
                pages.append([])
            continue
        spans = _parse_content_stream(data)
        if spans or b"/Length" in head:
            pages.append(spans)
    return pages


def page_text(spans: list[Span]) -> str:
    """Assemble a page's text: lines joined by \\n inside a block, blocks
    joined by blank lines. Mirrors the reference's layout-free text branch
    (`data.py:20-23` extract_text)."""
    out: list[str] = []
    cur_block = None
    for sp in spans:
        if cur_block is None:
            out.append(sp.text)
        elif sp.block != cur_block:
            out.append("\n\n" + sp.text)
        else:
            out.append("\n" + sp.text)
        cur_block = sp.block
    return "".join(out)


def pdf_text(payload: bytes) -> str:
    """Whole-document text: page texts joined by blank lines (1-based page
    order, reference convention `data.py:56`)."""
    return "\n\n".join(page_text(p) for p in parse_pdf(payload) if p)


# --------------------------------------------------------------------------
# deterministic PDF writer (fixture generator — real, minimal PDF 1.4)


def pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _aesv2_encrypt_built(objs: list[tuple[int, bytes]],
                         enc_oid: int) -> tuple[list[tuple[int, bytes]],
                                                bytes, bytes]:
    """Fixture-builder path: AESV2-encrypt every stream payload in a list
    of built (oid, body) objects with the EMPTY user password, and return
    (rewritten objects + the /Encrypt dict object, trailer extras, id0).
    Key material is fully deterministic (fixed /O, /P, /ID, per-object
    md5-derived IVs) so corpora and goldens are reproducible anywhere.
    The schedule is written against PDF 32000-1 Algorithms 2/5 —
    independently exercised by the parser's validator on read-back."""
    import hashlib
    import struct

    o_entry = bytes(range(32))
    p = -44
    id0 = bytes.fromhex("00112233445566778899aabbccddeeff")
    key = hashlib.md5(
        _ENC_PAD + o_entry + struct.pack("<i", p) + id0
    ).digest()
    for _ in range(50):
        key = hashlib.md5(key[:16]).digest()
    key = key[:16]
    u16 = _rc4(key, hashlib.md5(_ENC_PAD + id0).digest())
    for i in range(1, 20):
        u16 = _rc4(bytes(b ^ i for b in key), u16)
    u_entry = u16 + b"\x00" * 16

    def objkey(oid: int) -> bytes:
        return hashlib.md5(
            key + oid.to_bytes(3, "little") + b"\x00\x00" + b"sAlT"
        ).digest()[:16]

    out_objs: list[tuple[int, bytes]] = []
    for oid, body in objs:
        m = re.search(rb"stream\n(.*)\nendstream", body, re.S)
        if m:
            iv = hashlib.md5(b"iv" + oid.to_bytes(3, "little")).digest()
            enc = _aes_cbc_encrypt(objkey(oid), m.group(1), iv=iv)
            body = (re.sub(rb"/Length\s+\d+", b"/Length %d" % len(enc),
                           body[:m.start()])
                    + b"stream\n" + enc + b"\nendstream")
        out_objs.append((oid, body))
    enc_dict = (
        b"<< /Filter /Standard /V 4 /R 4 /Length 128"
        b" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >>"
        b" /StmF /StdCF /StrF /StdCF"
        b" /P %d /O <%s> /U <%s> >>"
        % (p, o_entry.hex().encode(), u_entry.hex().encode())
    )
    out_objs.append((enc_oid, enc_dict))
    trailer_extra = (b" /Encrypt %d 0 R /ID [<%s> <%s>]"
                     % (enc_oid, id0.hex().encode(), id0.hex().encode()))
    return out_objs, trailer_extra, id0


def _aesv3_encrypt_built(objs: list[tuple[int, bytes]], enc_oid: int,
                         r: int = 6) -> tuple[list[tuple[int, bytes]],
                                              bytes]:
    """Fixture-builder path: AES-256-encrypt every stream payload with the
    EMPTY user password under the Standard handler V5 (R=6 hardened-hash
    default; r=5 builds the deprecated plain-SHA-256 variant). All key
    material is deterministic, and — deliberately — ONE security
    dictionary is shared by every fixture document (what a single crawl
    source re-encrypting with one tool produces); combined with
    _hash_2b's lru_cache this bounds the corpus-wide hardened-hash cost
    to one evaluation per worker process. Entries follow ISO 32000-2
    Algorithms 8/9/10 (U/UE, O/OE, Perms), independently exercised by
    _parse_encryption_v5's validator on read-back."""
    import hashlib
    import struct

    file_key = hashlib.sha256(b"no-ocr-spark aesv3 fixture file key").digest()
    vsalt, ksalt = bytes(range(8)), bytes(range(8, 16))
    if r == 6:
        u_hash, ikey = _hash_2b(b"", vsalt, b""), _hash_2b(b"", ksalt, b"")
    else:
        u_hash = hashlib.sha256(vsalt).digest()
        ikey = hashlib.sha256(ksalt).digest()
    u_entry = u_hash + vsalt + ksalt
    ue = _aes_cbc_encrypt_nopad(ikey, b"\x00" * 16, file_key)
    # owner entries (owner password "owner", udata = the full /U string)
    ovs, oks = bytes(range(16, 24)), bytes(range(24, 32))
    if r == 6:
        o_hash = _hash_2b(b"owner", ovs, u_entry)
        oikey = _hash_2b(b"owner", oks, u_entry)
    else:
        o_hash = hashlib.sha256(b"owner" + ovs + u_entry).digest()
        oikey = hashlib.sha256(b"owner" + oks + u_entry).digest()
    o_entry = o_hash + ovs + oks
    oe = _aes_cbc_encrypt_nopad(oikey, b"\x00" * 16, file_key)
    p = -44
    perms_pt = (struct.pack("<i", p) + b"\xff\xff\xff\xff" + b"T"
                + b"adb" + b"nos!")  # bytes 12-15: free (Algorithm 10)
    perms = _aes_encrypt_block(_aes_round_keys(file_key), perms_pt)

    out_objs: list[tuple[int, bytes]] = []
    for oid, body in objs:
        m = re.search(rb"stream\n(.*)\nendstream", body, re.S)
        if m:
            iv = hashlib.md5(b"iv3" + oid.to_bytes(3, "little")).digest()
            enc = _aes_cbc_encrypt(file_key, m.group(1), iv=iv)
            body = (re.sub(rb"/Length\s+\d+", b"/Length %d" % len(enc),
                           body[:m.start()])
                    + b"stream\n" + enc + b"\nendstream")
        out_objs.append((oid, body))
    enc_dict = (
        b"<< /Filter /Standard /V 5 /R %d /Length 256"
        b" /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >>"
        b" /StmF /StdCF /StrF /StdCF"
        b" /P %d /O <%s> /U <%s> /OE <%s> /UE <%s> /Perms <%s> >>"
        % (r, p, o_entry.hex().encode(), u_entry.hex().encode(),
           oe.hex().encode(), ue.hex().encode(), perms.hex().encode())
    )
    out_objs.append((enc_oid, enc_dict))
    trailer_extra = b" /Encrypt %d 0 R" % enc_oid
    return out_objs, trailer_extra


def build_pdf_custom(content_streams: list[str],
                     reverse_pages_in_file: bool = False,
                     fonts: dict[str, dict] | None = None,
                     encrypt: str | None = None,
                     media_box: tuple[float, float, float, float]
                     | None = None) -> bytes:
    """Build a minimal valid uncompressed PDF around caller-supplied content
    streams (one per page). With reverse_pages_in_file=True the page/content
    OBJECTS are emitted in reverse file order while the page TREE keeps true
    order — a fixture for asserting tree-order (not file-order) parsing.

    `fonts` optionally defines the font resources (default one plain
    Helvetica /F1). Each entry: resource name -> {"base": str,
    "differences": str PDF-array body like "65 /eacute", "tounicode":
    bytes CMap stream} — encoding-bearing fixtures for the /Differences and
    /ToUnicode decode paths. Fully deterministic."""
    n_pages = len(content_streams)
    fonts = fonts or {"F1": {"base": "Helvetica"}}
    # obj 1: catalog, obj 2: pages; page i -> obj 3+2i, content -> obj 4+2i,
    # fonts (+ their CMap streams) follow, referenced by every page
    next_id = 3 + 2 * n_pages
    font_objs: list[tuple[int, bytes]] = []
    font_refs: list[str] = []
    for name, spec in fonts.items():
        fid = next_id
        next_id += 1
        parts = [f"<< /Type /Font /Subtype /Type1 "
                 f"/BaseFont /{spec.get('base', 'Helvetica')}"]
        if spec.get("differences"):
            parts.append(
                f" /Encoding << /Type /Encoding /Differences "
                f"[{spec['differences']}] >>")
        if spec.get("tounicode") is not None:
            cmap = spec["tounicode"]
            cid = next_id
            next_id += 1
            parts.append(f" /ToUnicode {cid} 0 R")
            font_objs.append((cid, (
                f"<< /Length {len(cmap)} >>\nstream\n".encode()
                + cmap + b"\nendstream"
            )))
        parts.append(" >>")
        font_objs.append((fid, "".join(parts).encode()))
        font_refs.append(f"/{name} {fid} 0 R")
    res = f"/Resources << /Font << {' '.join(font_refs)} >> >>"
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()),
    ]
    page_objs: list[tuple[int, bytes]] = []
    mb = media_box or (0, 0, 612, 792)
    mb_str = " ".join(f"{v:g}" for v in mb)
    for i, content_str in enumerate(content_streams):
        page_obj = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [{mb_str}] "
            f"/Contents {4 + 2 * i} 0 R {res} >>"
        ).encode()
        content = content_str.encode("latin-1", errors="replace")
        stream_obj = (
            f"<< /Length {len(content)} >>\nstream\n".encode()
            + content + b"\nendstream"
        )
        page_objs.append((3 + 2 * i, page_obj))
        page_objs.append((4 + 2 * i, stream_obj))
    if reverse_pages_in_file:
        page_objs.reverse()
    objs += page_objs
    objs += font_objs

    trailer_extra = b""
    if encrypt == "aesv2":
        objs, trailer_extra, _ = _aesv2_encrypt_built(objs, next_id)
        next_id += 1
    elif encrypt in ("aesv3", "aesv3r5"):
        objs, trailer_extra = _aesv3_encrypt_built(
            objs, next_id, r=5 if encrypt == "aesv3r5" else 6)
        next_id += 1
    elif encrypt is not None:
        raise ValueError(f"unknown encrypt mode {encrypt!r}")

    out = bytearray(b"%PDF-1.4\n")
    offsets: dict[int, int] = {}
    for oid, body in objs:
        offsets[oid] = len(out)
        out += f"{oid} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for oid in sorted(offsets):
        out += f"{offsets[oid]:010d} 00000 n \n".encode()
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R" % (len(objs) + 1)
        + trailer_extra + b" >>\n"
        + b"startxref\n%d\n%%%%EOF\n" % xref_at
    )
    return bytes(out)


def build_pdf(pages: list[list[str]], font_size: int = 12,
              left: float = 72.0, top: float = 720.0,
              style: str = "tj") -> bytes:
    """Build a minimal valid uncompressed PDF: one content stream per page.
    Fully deterministic. `style` picks the text-showing operator family so a
    corpus can exercise every parser path while extracting IDENTICAL text:

      - "tj":      per-line Td + literal-string Tj (the classic form)
      - "tj_arr":  per-line TJ array show, each line split at spaces with
                   interleaved kerning numbers (net width-neutral pairs)
      - "quote":   first line Tj, then TL leading + ' next-line shows
      - "reversed": like "tj" but page/content OBJECTS emitted in reverse
                   file order — text order must come from the page tree
      - "encoded": like "tj" but the font carries /Encoding /Differences
                   [1 /a 2 /e] and every 'a'/'e' is shown as byte
                   0x01/0x02 — the text round-trips byte-identically ONLY
                   through the encoding tables
      - "aesv2":   like "tj" but every stream is AES-128-CBC encrypted
                   under the Standard handler (V4/R4 /CFM /AESV2, empty
                   user password) — text round-trips ONLY through the
                   FIPS-197 decrypt path
      - "aesv3":   like "tj" but AES-256 under V5/R6 /CFM /AESV3 (PDF
                   2.0 hardened-hash handler, empty user password) —
                   exercises Algorithm 2.B validation + /UE key unwrap
    """
    leading = font_size + 2
    streams: list[str] = []
    for lines in pages:
        if style == "quote":
            parts = [f"BT /F1 {font_size} Tf {leading} TL {left} {top} Td"]
            for j, ln in enumerate(lines):
                if j == 0:
                    parts.append(f"({pdf_escape(ln)}) Tj")
                else:
                    parts.append(f"({pdf_escape(ln)}) '")
            parts.append("ET")
        elif style == "tj_arr":
            parts = [f"BT /F1 {font_size} Tf {left} {top} Td"]
            for j, ln in enumerate(lines):
                if j > 0:
                    parts.append(f"0 -{leading} Td")
                words = ln.split(" ")
                elems: list[str] = []
                for wi, word in enumerate(words):
                    if wi > 0:
                        # ( )-space plus a width-neutral kern pair: the
                        # shown text is byte-identical to the "tj" style
                        elems.append("( )")
                        elems.append("40 -40")
                    elems.append(f"({pdf_escape(word)})")
                parts.append("[" + " ".join(elems) + "] TJ")
            parts.append("ET")
        elif style == "encoded":
            parts = [f"BT /F1 {font_size} Tf {left} {top} Td"]
            for j, ln in enumerate(lines):
                if j > 0:
                    parts.append(f"0 -{leading} Td")
                # escape first: the escape sequences introduce no letters
                enc = pdf_escape(ln).replace("a", r"\001").replace("e", r"\002")
                parts.append(f"({enc}) Tj")
            parts.append("ET")
        else:  # "tj" and "reversed"
            parts = [f"BT /F1 {font_size} Tf {left} {top} Td"]
            for j, ln in enumerate(lines):
                if j > 0:
                    parts.append(f"0 -{leading} Td")
                parts.append(f"({pdf_escape(ln)}) Tj")
            parts.append("ET")
        streams.append(" ".join(parts))
    fonts = None
    if style == "encoded":
        fonts = {"F1": {"base": "Helvetica", "differences": "1 /a 2 /e"}}
    encrypt = style if style in ("aesv2", "aesv3", "aesv3r5") else None
    return build_pdf_custom(streams,
                            reverse_pages_in_file=(style == "reversed"),
                            fonts=fonts,
                            encrypt=encrypt)
