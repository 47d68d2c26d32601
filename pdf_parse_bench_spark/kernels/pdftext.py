"""Pure-Python PDF text extractor (the M2 analog).

The reference's cheapest deterministic backend is pypdf's per-page
``extract_text`` (parsers/pypdf/__main__.py:30-32). This kernel
re-implements that capability from scratch:

  - xref table parse (``startxref`` -> subsections -> ``/Prev`` chain) with
    a full ``N G obj`` scan fallback for broken files,
  - a real COS object parser (dicts, arrays, names with ``#xx`` escapes,
    literal strings with octal escapes / nested parens / line continuations,
    hex strings, indirect references),
  - ``/Root -> /Pages -> /Kids`` page-tree traversal with inheritable
    ``/MediaBox`` and ``/Resources`` (so page height is real, not assumed),
  - ``/Contents`` as a single stream or an array of streams, FlateDecode,
  - a content-stream interpreter tracking text state across one or many
    show ops per BT/ET block: ``Tm Td TD T* TL Tf`` positioning and
    ``Tj TJ ' "`` show operators (TJ kerning gaps <= -150/1000 em become a
    space, mirroring pypdf's word-gap heuristic),
  - font ``/Encoding`` decode: WinAnsi / MacRoman / Standard base tables
    plus ``/Differences`` glyph-name overrides (AGL subset).

Within a page, runs are ordered by the same XY-cut used by the layout path
so multi-column pages come out column-major; pages concatenate in page-tree
order. Designed to run inside ``mapInPandas`` over Arrow batches of PDF
bytes — no driver-side loops (north_rule: batched byte-stream tokenization).
"""

from __future__ import annotations

import re
import struct
import zlib

import numpy as np

from pdf_parse_bench_spark.kernels.layout import reading_order

PAGE_H = 842.0  # fallback page height when no /MediaBox is recoverable

# /BaseFont families that mark math glyph runs (Computer Modern / Latin
# Modern math, Symbol, AMS symbol fonts) — the classification signal for
# pdf_spans (formula vs prose); prose CM faces (CMR/LMRoman…) don't match
_MATH_FONT_RE = re.compile(
    r"(CMMI|CMSY|CMEX|CMBSY|MSAM|MSBM|Math(?:Italic|Symbols|Extension)?"
    r"|Symbol|rsfs|wasy|stmary"
    # Euler math families (EUFM fraktur / EURM+EURB roman / EUSM script /
    # EUEX extension), TX math faces (txsy/txex/tx(b)mi & r-prefixed, but
    # NOT the rtxr/rtxb text romans), Kepler math ('Kp--M-' marker): all
    # present in the reference 2025-q4/2026-q1 corpora
    r"|EU(?:FM|RM|RB|SM|EX)|r?txb?(?:syc?|mia?|ex)|Kp--M-)", re.I)
_LINE_H = 12.0
_RUN_W = 200.0
_TJ_SPACE_KERN = -150.0  # TJ adjustment (1/1000 em) at/below which a space is implied

_WS = frozenset(b"\x00\t\n\x0c\r ")
_DELIM = frozenset(b"()<>[]{}/%")

# ---------------------------------------------------------------------------
# COS object model + parser
# ---------------------------------------------------------------------------


class _Name(str):
    __slots__ = ()


class _Ref(int):
    __slots__ = ()


_NUM_RE = re.compile(rb"[-+]?(?:\d+\.?\d*|\.\d+)")
_REF_RE = re.compile(rb"\s+\d+\s+R(?![A-Za-z0-9])")
_NAME_HEX_RE = re.compile(r"#([0-9A-Fa-f]{2})")


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment to EOL
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
        else:
            break
    return i


def _parse_name(data: bytes, i: int) -> tuple[_Name, int]:
    j = i + 1
    n = len(data)
    while j < n and data[j] not in _WS and data[j] not in _DELIM:
        j += 1
    raw = data[i + 1:j].decode("latin-1")
    if "#" in raw:
        raw = _NAME_HEX_RE.sub(lambda m: chr(int(m.group(1), 16)), raw)
    return _Name(raw), j


_STR_ESC = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08, 0x66: 0x0C}


def _parse_literal_string(data: bytes, i: int) -> tuple[bytes, int]:
    """Parse ``(...)`` starting at the open paren. Handles nested balanced
    parens, ``\\n \\r \\t \\b \\f \\( \\) \\\\``, 1-3 digit octal escapes,
    and backslash-newline line continuations (PDF 32000-1 §7.3.4.2)."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            c2 = data[i]
            if c2 in _STR_ESC:
                out.append(_STR_ESC[c2])
                i += 1
            elif c2 in (0x28, 0x29, 0x5C):
                out.append(c2)
                i += 1
            elif 0x30 <= c2 <= 0x37:  # octal, up to 3 digits
                j = i
                while j < min(i + 3, n) and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(int(data[i:j], 8) & 0xFF)
                i = j
            elif c2 == 0x0D:  # \<CR>[LF] continuation
                i += 1
                if i < n and data[i] == 0x0A:
                    i += 1
            elif c2 == 0x0A:
                i += 1
            else:  # lone backslash: drop it, keep the char
                out.append(c2)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _parse_hex_string(data: bytes, i: int) -> tuple[bytes, int]:
    j = data.index(b">", i)
    digits = re.sub(rb"[^0-9A-Fa-f]", b"", data[i + 1:j])
    if len(digits) % 2:
        digits += b"0"  # odd count: final digit padded with 0 (spec)
    return bytes.fromhex(digits.decode("ascii")), j + 1


def _parse_obj(data: bytes, i: int):
    """Recursive-descent COS object parser. Returns (value, next_pos)."""
    i = _skip_ws(data, i)
    if i >= len(data):
        raise ValueError("eof")
    c = data[i]
    if data.startswith(b"<<", i):
        d: dict = {}
        i += 2
        while True:
            i = _skip_ws(data, i)
            if data.startswith(b">>", i):
                return d, i + 2
            key, i = _parse_obj(data, i)
            if not isinstance(key, _Name):
                raise ValueError("dict key is not a name")
            val, i = _parse_obj(data, i)
            d[str(key)] = val
    if c == 0x3C:  # '<' hex string
        return _parse_hex_string(data, i)
    if c == 0x5B:  # '['
        arr: list = []
        i += 1
        while True:
            i = _skip_ws(data, i)
            if data[i] == 0x5D:
                return arr, i + 1
            v, i = _parse_obj(data, i)
            arr.append(v)
    if c == 0x2F:  # '/'
        return _parse_name(data, i)
    if c == 0x28:  # '('
        return _parse_literal_string(data, i)
    if data.startswith(b"true", i):
        return True, i + 4
    if data.startswith(b"false", i):
        return False, i + 5
    if data.startswith(b"null", i):
        return None, i + 4
    m = _NUM_RE.match(data, i)
    if not m:
        raise ValueError(f"unparseable object at {i}")
    tok = m.group()
    if b"." in tok:
        return float(tok), m.end()
    mr = _REF_RE.match(data, m.end())
    if mr:  # "N G R" indirect reference (generation ignored)
        return _Ref(int(tok)), mr.end()
    return int(tok), m.end()


# ---------------------------------------------------------------------------
# Document: xref, objects, page tree
# ---------------------------------------------------------------------------

_OBJ_HDR_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_XREF_ENTRY_RE = re.compile(rb"(\d{10})\s(\d{5})\s([nf])")


def _lzw_decode(data: bytes) -> bytes:
    """LZWDecode (PDF 32000-1 §7.4.4 / TIFF variant): variable 9-12 bit
    codes MSB-first, 256=clear, 257=EOD, early-change code-width bumps."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None
    width = 9
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:  # clear table
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width, prev = 9, None
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
            if len(table) + 1 >= (1 << width) and width < 12:  # early change
                width += 1
    return bytes(out)


def _asciihex_decode(data: bytes) -> bytes:
    """ASCIIHexDecode (§7.4.2): hex pairs, whitespace ignored, '>' EOD;
    an odd trailing digit is padded with 0."""
    end = data.find(b">")
    hx = re.sub(rb"[^0-9A-Fa-f]", b"", data[:end if end >= 0 else len(data)])
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii"))
    except ValueError:
        return b""


def _ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (§7.4.3): base-85 groups, 'z' = four zero bytes,
    '~>' EOD, partial final group truncated."""
    end = data.find(b"~>")
    body = re.sub(rb"\s", b"", data[:end if end >= 0 else len(data)])
    if body.startswith(b"<~"):
        body = body[2:]
    out = bytearray()
    group: list[int] = []
    for ch in body:
        if ch == 0x7A and not group:  # 'z'
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= ch <= 0x75:
            return b""
        group.append(ch - 0x21)
        if len(group) == 5:
            n = 0
            for g in group:
                n = n * 85 + g
            out += n.to_bytes(4, "big")
            group = []
    if group:  # partial group: pad with 'u' (84), keep len-1 bytes
        k = len(group)
        group += [84] * (5 - k)
        n = 0
        for g in group:
            n = n * 85 + g
        out += n.to_bytes(4, "big")[:k - 1]
    return bytes(out)


def _runlength_decode(data: bytes) -> bytes:
    """RunLengthDecode (§7.4.5): length byte L -> copy L+1 literals
    (L<128), repeat next byte 257-L times (L>128), 128 = EOD."""
    out = bytearray()
    i = 0
    while i < len(data):
        ln = data[i]
        if ln == 128:
            break
        if ln < 128:
            out += data[i + 1:i + 2 + ln]
            i += 2 + ln
        else:
            out += data[i + 1:i + 2] * (257 - ln)
            i += 2
    return bytes(out)


def _tiff_unpredict(data: bytes, columns: int, colors: int,
                    bpc: int) -> bytes:
    """TIFF Predictor 2 (horizontal differencing), 8-bit components."""
    if bpc != 8:
        return data
    row_w = columns * colors
    arr = np.frombuffer(data[:len(data) - len(data) % row_w],
                        dtype=np.uint8).reshape(-1, row_w).copy()
    np.cumsum(arr.reshape(arr.shape[0], columns, colors), axis=1,
              dtype=np.uint8, out=arr.reshape(arr.shape[0], columns, colors))
    return arr.tobytes()


def _png_unpredict(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    """Undo PNG row predictors on a decoded stream (/DecodeParms
    /Predictor >= 10): each row is filter-type byte + `columns*colors*bpc/8`
    bytes; xref streams conventionally use Up (type 2)."""
    bpp = max(1, (colors * bpc) // 8)
    rowlen = columns * bpp
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    n = len(data)
    while i + 1 + rowlen <= n:
        ft = data[i]
        row = bytearray(data[i + 1:i + 1 + rowlen])
        i += 1 + rowlen
        if ft == 1:  # Sub
            for k in range(bpp, rowlen):
                row[k] = (row[k] + row[k - bpp]) & 0xFF
        elif ft == 2:  # Up
            for k in range(rowlen):
                row[k] = (row[k] + prev[k]) & 0xFF
        elif ft == 3:  # Average
            for k in range(rowlen):
                a = row[k - bpp] if k >= bpp else 0
                row[k] = (row[k] + ((a + prev[k]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for k in range(rowlen):
                a = row[k - bpp] if k >= bpp else 0
                c = prev[k - bpp] if k >= bpp else 0
                b = prev[k]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[k] = (row[k] + pr) & 0xFF
        out += row
        prev = row
    return bytes(out)


class _PdfDoc:
    def __init__(self, data: bytes, password: bytes = b""):
        self.data = data
        self._password = password
        self.trailer: dict = {}
        self.offsets: dict[int, int] = {}
        self.in_objstm: dict[int, tuple[int, int]] = {}  # num -> (stm, idx)
        self._freed: set[int] = set()  # free ('f'/type-0) entries, newest-wins
        self._cache: dict[int, tuple] = {}
        self._objstm_cache: dict[int, list] = {}
        self._img_cache: dict[int, object] = {}
        self._font_cache: dict[int, tuple] = {}  # Ref -> (dec, math, adv)
        self._crypt = None  # must exist before any get_object call
        self._encrypt_num = -1
        try:
            self._load_xref()
        except Exception:
            self.offsets = {}
            self.in_objstm = {}
        if (not self.offsets and not self.in_objstm) \
                or "Root" not in self.trailer:
            self._scan_objects()
        self._setup_encryption()

    def _setup_encryption(self) -> None:
        """Standard-security-handler setup (kernels/pdfcrypt): when the
        trailer carries /Encrypt, derive the file key for the empty user
        password.  Strings/streams resolved BEFORE this point (the
        /Encrypt dict itself, the /ID strings, xref streams) are exactly
        the ones the spec leaves unencrypted, so cache order is safe."""
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is None:
            return
        try:
            from pdf_parse_bench_spark.kernels.pdfcrypt import \
                StandardDecrypter
            if isinstance(enc_ref, _Ref):
                self._encrypt_num = int(enc_ref)
            enc = self.resolve(enc_ref)
            if not isinstance(enc, dict):
                return
            ids = self.resolve(self.trailer.get("ID"))
            id0 = ids[0] if isinstance(ids, list) and ids \
                and isinstance(ids[0], bytes) else b""
            h = StandardDecrypter(enc, id0, self._password)
            if h.ok:
                self._crypt = h
        except Exception:
            self._crypt = None  # unsupported handler -> damaged-file path

    def _decrypt_strings(self, v, num: int, gen: int):
        """Recursively decrypt string values of a freshly parsed object
        (streams are handled separately; ObjStm-packed objects never
        reach here — their strings are not separately encrypted)."""
        if isinstance(v, bytes):
            return self._crypt.decrypt_string(v, num, gen)
        if isinstance(v, list):
            return [self._decrypt_strings(x, num, gen) for x in v]
        if isinstance(v, dict):
            return {k: self._decrypt_strings(x, num, gen)
                    for k, x in v.items()}
        return v

    # -- xref ---------------------------------------------------------------
    def _load_xref(self) -> None:
        data = self.data
        tail = data[-1024:]
        ms = list(re.finditer(rb"startxref\s+(\d+)", tail))
        if not ms:
            raise ValueError("no startxref")
        pos = int(ms[-1].group(1))  # LAST startxref = newest update
        seen: set[int] = set()
        while pos not in seen and 0 <= pos < len(data):
            seen.add(pos)
            i = _skip_ws(data, pos)
            if data.startswith(b"xref", i):
                nxt = self._load_xref_table(i + 4)
            else:
                nxt = self._load_xref_stream(i)  # PDF 1.5+ xref stream
            if nxt is None:
                return
            pos = nxt

    def _load_xref_table(self, i: int) -> int | None:
        data = self.data
        while True:
            i = _skip_ws(data, i)
            if data.startswith(b"trailer", i):
                i += 7
                trailer, i = _parse_obj(data, i)
                for k, v in trailer.items():
                    self.trailer.setdefault(k, v)  # newest update wins
                prev = trailer.get("Prev")
                return int(prev) if isinstance(prev, (int, float)) else None
            sub = re.match(rb"(\d+)\s+(\d+)", data[i:i + 40])
            if not sub:
                raise ValueError("bad xref subsection")
            start, count = int(sub.group(1)), int(sub.group(2))
            i += sub.end()
            for k in range(count):
                i = _skip_ws(data, i)
                em = _XREF_ENTRY_RE.match(data, i)
                if not em:
                    raise ValueError("bad xref entry")
                num = start + k
                if self._xref_unseen(num):
                    # a free ('f') entry in a NEWER update shadows older
                    # in-use entries in the /Prev chain: the object was
                    # deleted by an incremental update and must not
                    # resurrect from an earlier xref section
                    if em.group(3) == b"n":
                        self.offsets[num] = int(em.group(1))
                    else:
                        self._freed.add(num)
                i = em.end()

    def _load_xref_stream(self, i: int) -> int | None:
        """PDF 1.5 cross-reference stream (/Type /XRef): binary entries of
        /W field widths over /Index subsections; entry type 2 locates
        objects inside compressed object streams (§7.5.8)."""
        data = self.data
        m = _OBJ_HDR_RE.match(data, i)
        if not m:
            raise ValueError("xref stream: no object header")
        d, j = _parse_obj(data, m.end())
        if not isinstance(d, dict) or str(d.get("Type", "")) != "XRef":
            raise ValueError("xref stream: not /Type /XRef")
        j = _skip_ws(data, j)
        if not data.startswith(b"stream", j):
            raise ValueError("xref stream: missing stream")
        s = j + 6
        if data[s:s + 2] == b"\r\n":
            s += 2
        elif data[s:s + 1] in (b"\n", b"\r"):
            s += 1
        length = self.resolve(d.get("Length"))
        raw = data[s:s + int(length)]
        body = self._decode_stream(d, raw)
        w = [int(x) for x in self.resolve(d.get("W", [1, 2, 1]))]
        size = int(self.resolve(d.get("Size", 0)))
        index = self.resolve(d.get("Index")) or [0, size]
        ew = sum(w)
        pos = 0

        def field(buf, off, width, default):
            if width == 0:
                return default
            return int.from_bytes(buf[off:off + width], "big")

        for a in range(0, len(index) - 1, 2):
            start, count = int(index[a]), int(index[a + 1])
            for k in range(count):
                e = body[pos:pos + ew]
                pos += ew
                if len(e) < ew:
                    break
                etype = field(e, 0, w[0], 1)
                f2 = field(e, w[0], w[1], 0)
                f3 = field(e, w[0] + w[1], w[2], 0)
                num = start + k
                if self._xref_unseen(num):
                    if etype == 1:
                        self.offsets[num] = f2
                    elif etype == 2:
                        self.in_objstm[num] = (f2, f3)
                    else:  # type 0 = free: shadow older /Prev entries
                        self._freed.add(num)
        for k, v in d.items():
            self.trailer.setdefault(k, v)
        prev = d.get("Prev")
        return int(prev) if isinstance(prev, (int, float)) else None

    def _xref_unseen(self, num: int) -> bool:
        """True iff no NEWER xref section (the chain walks newest→oldest)
        has already claimed object `num` — in-use, compressed, or freed."""
        return (num not in self.offsets and num not in self.in_objstm
                and num not in self._freed)

    def _scan_objects(self) -> None:
        for m in _OBJ_HDR_RE.finditer(self.data):
            # later (incremental-update) definitions win in a scan
            self.offsets[int(m.group(1))] = m.start()
        if "Root" not in self.trailer:
            for m in re.finditer(rb"trailer\b", self.data):
                try:
                    t, _ = _parse_obj(self.data, m.end())
                    self.trailer.update(t)
                except Exception:
                    continue

    # -- objects ------------------------------------------------------------
    def get_object(self, num: int):
        """Return (value, raw_stream_bytes_or_None) for object `num`."""
        if num in self._cache:
            return self._cache[num]
        if num in self.in_objstm and num not in self.offsets:
            result = (self._from_objstm(num), None)
            self._cache[num] = result
            return result
        off = self.offsets.get(num)
        result = (None, None)
        if off is not None:
            data = self.data
            m = _OBJ_HDR_RE.match(data, _skip_ws(data, off))
            if m and int(m.group(1)) == num:
                val, i = _parse_obj(data, m.end())
                i = _skip_ws(data, i)
                stream = None
                if data.startswith(b"stream", i):
                    s = i + 6
                    if data[s:s + 2] == b"\r\n":
                        s += 2
                    elif data[s:s + 1] in (b"\n", b"\r"):
                        s += 1
                    length = self.resolve(val.get("Length")) if isinstance(val, dict) else None
                    if isinstance(length, (int, float)):
                        stream = data[s:s + int(length)]
                    else:
                        e = data.find(b"endstream", s)
                        stream = data[s:e if e >= 0 else len(data)].rstrip(b"\r\n")
                if self._crypt is not None and num != self._encrypt_num:
                    gen = int(m.group(2))
                    val = self._decrypt_strings(val, num, gen)
                    if stream is not None and not (
                            isinstance(val, dict)
                            and str(val.get("Type", "")) == "XRef"):
                        stream = self._crypt.decrypt_stream(stream, num, gen)
                result = (val, stream)
        self._cache[num] = result
        return result

    def resolve(self, v, _depth: int = 0):
        while isinstance(v, _Ref) and _depth < 32:
            v, _ = self.get_object(int(v))
            _depth += 1
        return v

    def _from_objstm(self, num: int):
        """Parse an object out of a compressed object stream (/Type /ObjStm,
        §7.5.7): header of N (objnum, offset) pairs, then bodies
        back-to-back starting at /First."""
        stm_num, _idx = self.in_objstm[num]
        pairs = self._objstm_cache.get(stm_num)
        if pairs is None:
            d, raw = self.get_object(stm_num)
            pairs = []
            if isinstance(d, dict) and raw is not None:
                body = self._decode_stream(d, raw)
                n = int(self.resolve(d.get("N", 0)))
                first = int(self.resolve(d.get("First", 0)))
                i = 0
                header = []
                for _ in range(2 * n):
                    i = _skip_ws(body, i)
                    m = _NUM_RE.match(body, i)
                    if not m:
                        break
                    header.append(int(m.group()))
                    i = m.end()
                for k in range(0, len(header) - 1, 2):
                    pairs.append((header[k], first + header[k + 1]))
                pairs = [(onum, off, body) for onum, off in pairs]
            self._objstm_cache[stm_num] = pairs
        for onum, off, body in pairs:
            if onum == num:
                try:
                    val, _ = _parse_obj(body, off)
                    return val
                except Exception:
                    return None
        return None

    def _decode_stream(self, d: dict, raw: bytes) -> bytes:
        """Apply /Filter chain (+/DecodeParms PNG predictors) to raw bytes."""
        filt = self.resolve(d.get("Filter"))
        filters = filt if isinstance(filt, list) else ([filt] if filt else [])
        parms = self.resolve(d.get("DecodeParms"))
        parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
        body = raw
        for f, p in zip(filters, parms_list):
            name = str(self.resolve(f))
            if name in ("FlateDecode", "Fl"):
                try:
                    body = zlib.decompress(body)
                except zlib.error:
                    return b""
            elif name in ("LZWDecode", "LZW"):
                body = _lzw_decode(body)
            elif name in ("ASCIIHexDecode", "AHx"):
                body = _asciihex_decode(body)
            elif name in ("ASCII85Decode", "A85"):
                body = _ascii85_decode(body)
            elif name in ("RunLengthDecode", "RL"):
                body = _runlength_decode(body)
            elif name == "Crypt":
                continue  # handled at the object layer (or /Identity)
            else:  # non-text filter chain (image data — decoded
                  # separately via _image_pixels, not here)
                return b""
            p = self.resolve(p)
            if isinstance(p, dict):
                pred = int(self.resolve(p.get("Predictor", 1)) or 1)
                cols = int(self.resolve(p.get("Columns", 1)) or 1)
                colors = int(self.resolve(p.get("Colors", 1)) or 1)
                bpc = int(self.resolve(p.get("BitsPerComponent", 8)) or 8)
                if pred >= 10:  # PNG predictors (xref streams use Up=12)
                    body = _png_unpredict(body, cols, colors, bpc)
                elif pred == 2:  # TIFF horizontal differencing
                    body = _tiff_unpredict(body, cols, colors, bpc)
        return body

    def stream_bytes(self, v) -> bytes:
        """Decoded stream content for a stream object (Ref or direct)."""
        if isinstance(v, _Ref):
            d, raw = self.get_object(int(v))
        else:
            return b""
        if raw is None or not isinstance(d, dict):
            return b""
        return self._decode_stream(d, raw)

    # -- page tree ----------------------------------------------------------
    def pages(self):
        """Yield (content_bytes, fonts, page_w, page_h) in page-tree order."""
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            return
        node = self.resolve(root.get("Pages"))
        yield from self._walk(node, None, None, 0)

    def _walk(self, node, media, resources, depth):
        if not isinstance(node, dict) or depth > 64:
            return
        media = self.resolve(node.get("MediaBox")) or media
        resources = self.resolve(node.get("Resources")) or resources
        kids = self.resolve(node.get("Kids"))
        if isinstance(kids, list) and str(node.get("Type", "Pages")) != "Page":
            for kid in kids:
                yield from self._walk(self.resolve(kid), media, resources, depth + 1)
            return
        contents = node.get("Contents")
        resolved = self.resolve(contents)
        refs = resolved if isinstance(resolved, list) else (
            [contents] if contents is not None else [])
        body = b"\n".join(self.stream_bytes(r) for r in refs if r is not None)
        page_w, page_h = 595.0, PAGE_H
        if isinstance(media, list) and len(media) == 4:
            try:
                page_w = float(self.resolve(media[2])) - float(self.resolve(media[0]))
                page_h = float(self.resolve(media[3])) - float(self.resolve(media[1]))
            except (TypeError, ValueError):
                pass
        yield (body, self._fonts(resources),
               self._xobject_lookup(resources), page_w, page_h)

    def _image_pixels(self, ref, d: dict, w: int, h: int):
        """Decoded grayscale pixels (uint8 (h, w)) for an Image XObject,
        or None when the data is outside the decodable profile (the span
        then stays geometry-only — the M11 contract). DCTDecode streams
        decode through the from-scratch JPEG kernel (baseline AND
        progressive; color collapses to Rec.601 luma); filterless or
        Flate 8-bit DeviceGray/DeviceRGB rasters reshape directly.
        Cached per object number — one decode per image however many
        pages paint it."""
        key = int(ref) if isinstance(ref, _Ref) else None
        if key is not None and key in self._img_cache:
            return self._img_cache[key]
        px = None
        try:
            filt = self.resolve(d.get("Filter"))
            filters = [str(self.resolve(f)) for f in (
                filt if isinstance(filt, list)
                else [filt] if filt else [])]
            _, raw = self.get_object(int(ref)) if isinstance(ref, _Ref) \
                else (None, None)
            if raw is not None and w > 0 and h > 0:
                if filters and filters[-1] in ("CCITTFaxDecode", "CCF"):
                    from pdf_parse_bench_spark.kernels.ccitt import (
                        ccittfax_decode)
                    parms = self.resolve(d.get("DecodeParms"))
                    if isinstance(parms, list):
                        parms = self.resolve(parms[-1])
                    parms = parms if isinstance(parms, dict) else {}
                    body = raw
                    if len(filters) > 1:
                        pre = dict(d)
                        pre["Filter"] = filters[:-1]
                        body = self._decode_stream(pre, raw)
                    arr = ccittfax_decode(
                        body,
                        int(self.resolve(parms.get("Columns", 1728))
                            or 1728),
                        int(self.resolve(parms.get("Rows", h)) or h),
                        k=int(self.resolve(parms.get("K", 0)) or 0),
                        byte_align=bool(self.resolve(
                            parms.get("EncodedByteAlign", False))))
                    if self.resolve(parms.get("BlackIs1", False)):
                        arr = 255 - arr  # 1-bits mean black
                    px = arr
                elif filters and filters[-1] == "JBIG2Decode":
                    from pdf_parse_bench_spark.kernels.jbig2 import (
                        jbig2_decode)
                    parms = self.resolve(d.get("DecodeParms"))
                    if isinstance(parms, list):
                        parms = self.resolve(parms[-1])
                    parms = parms if isinstance(parms, dict) else {}
                    g = parms.get("JBIG2Globals")
                    globals_data = self.stream_bytes(g) if g is not None \
                        else b""
                    body = raw
                    if len(filters) > 1:
                        pre = dict(d)
                        pre["Filter"] = filters[:-1]
                        body = self._decode_stream(pre, raw)
                    # T.88 1-bits are black; jbig2_decode returns
                    # 255-white/0-black uint8 (the CCITT convention)
                    px = jbig2_decode(body, globals_data)
                elif filters and filters[-1] in ("DCTDecode", "DCT"):
                    from pdf_parse_bench_spark.kernels.jpeg import (
                        jpeg_decode)
                    body = raw
                    if len(filters) > 1:  # pre-filters ahead of the JPEG
                        pre = dict(d)
                        pre["Filter"] = filters[:-1]
                        body = self._decode_stream(pre, raw)
                    img = jpeg_decode(body)
                    if img.ndim == 3:
                        img = np.clip(np.round(
                            0.299 * img[..., 0].astype(np.float64)
                            + 0.587 * img[..., 1] + 0.114 * img[..., 2]),
                            0, 255).astype(np.uint8)
                    px = img
                else:
                    body = self._decode_stream(d, raw)
                    bpc = int(self.resolve(
                        d.get("BitsPerComponent", 8)) or 8)
                    cs = str(self.resolve(d.get("ColorSpace", "")))
                    if bpc == 8 and "Gray" in cs and len(body) >= w * h:
                        px = np.frombuffer(
                            body[:w * h], dtype=np.uint8).reshape(h, w)
                    elif bpc == 1 and "Gray" in cs \
                            and len(body) >= ((w + 7) // 8) * h:
                        rb = (w + 7) // 8
                        bits = np.unpackbits(np.frombuffer(
                            body[:rb * h], dtype=np.uint8).reshape(h, rb),
                            axis=1)[:, :w]
                        px = (bits * np.uint8(255)).astype(np.uint8)
                    elif bpc == 4 and "Gray" in cs \
                            and len(body) >= ((w + 1) // 2) * h:
                        rb = (w + 1) // 2
                        b4 = np.frombuffer(
                            body[:rb * h], dtype=np.uint8).reshape(h, rb)
                        nib = np.empty((h, rb * 2), dtype=np.uint8)
                        nib[:, 0::2] = b4 >> 4
                        nib[:, 1::2] = b4 & 0x0F
                        px = (nib[:, :w] * np.uint8(17)).astype(np.uint8)
                    elif bpc == 8 and "RGB" in cs and len(body) >= 3 * w * h:
                        arr = np.frombuffer(
                            body[:3 * w * h],
                            dtype=np.uint8).reshape(h, w, 3)
                        px = np.clip(np.round(
                            0.299 * arr[..., 0].astype(np.float64)
                            + 0.587 * arr[..., 1] + 0.114 * arr[..., 2]),
                            0, 255).astype(np.uint8)
        except (ValueError, KeyError, IndexError, OverflowError,
                struct.error, zlib.error):
            # ValueError is the jpeg/ccitt kernels' documented
            # out-of-profile signal; the rest are the narrow malformed-
            # data shapes. Programming errors (NameError, AttributeError,
            # ...) propagate instead of masquerading as decoded=False.
            px = None
        if key is not None:
            self._img_cache[key] = px
        return px

    def _image_true_dims(self, ref, d: dict):
        """TRUE pixel dims read from the image DATA's own headers —
        JBIG2 segment headers, JPEG 2000 SIZ/ihdr, JPEG SOF — or None.
        Degradation rows (decoded=False) report these instead of the
        PDF dict's claim, so an out-of-profile JBIG2/JPX/JPEG figure
        still carries real geometry (VERDICT r5 items 5/10)."""
        try:
            filt = self.resolve(d.get("Filter"))
            filters = [str(self.resolve(f)) for f in (
                filt if isinstance(filt, list)
                else [filt] if filt else [])]
            if not filters:
                return None
            _, raw = self.get_object(int(ref)) if isinstance(ref, _Ref) \
                else (None, None)
            if raw is None:
                return None
            body = raw
            if len(filters) > 1:
                pre = dict(d)
                pre["Filter"] = filters[:-1]
                body = self._decode_stream(pre, raw)
            last = filters[-1]
            if last == "JBIG2Decode":
                from pdf_parse_bench_spark.kernels.jbig2 import jbig2_dims
                parms = self.resolve(d.get("DecodeParms"))
                if isinstance(parms, list):
                    parms = self.resolve(parms[-1])
                parms = parms if isinstance(parms, dict) else {}
                g = parms.get("JBIG2Globals")
                return jbig2_dims(
                    body, self.stream_bytes(g) if g is not None else b"")
            if last == "JPXDecode":
                from pdf_parse_bench_spark.kernels.jpx import jpx_dims
                w, h, _nc = jpx_dims(body)
                return w, h
            if last in ("DCTDecode", "DCT"):
                from pdf_parse_bench_spark.kernels.jpeg import jpeg_dims
                w, h, _nc = jpeg_dims(body)
                return w, h
        except (ValueError, KeyError, IndexError, OverflowError,
                struct.error, zlib.error):
            pass
        return None

    def _xobject_lookup(self, resources):
        """Closure resolving a /XObject name for the `Do` operator (§8.10):
        ("form", body, fonts, sub_lookup) for Form XObjects (forms inherit
        the parent resources when they carry none) or
        ("image", w_px, h_px, pixels_or_None) for Image XObjects (M11 —
        the figure surface dots.ocr reports as Picture blocks,
        parsers/dots_ocr/__main__.py:125-142; placement comes from the
        CTM at the Do site, not from these pixel dims; pixels feed the
        rasterizer's figure ink, see _image_pixels)."""
        def lookup(name: str):
            res = self.resolve(resources)
            if not isinstance(res, dict):
                return None
            xo = self.resolve(res.get("XObject"))
            if not isinstance(xo, dict):
                return None
            ref = xo.get(name)
            d = self.resolve(ref)
            if not isinstance(d, dict):
                return None
            sub = str(d.get("Subtype", ""))
            if sub == "Image":
                try:
                    w = int(self.resolve(d.get("Width", 0)))
                    h = int(self.resolve(d.get("Height", 0)))
                except (TypeError, ValueError):
                    return None
                # pixels are LAZY: text/span extraction needs only the
                # Do-site geometry; only the rasterizer and the image-
                # stats operator force the decode (cached per object)
                def thunk(ref=ref, d=d, w=w, h=h):
                    return self._image_pixels(ref, d, w, h)
                # dims-from-data probe for degradation rows: stats can
                # report REAL geometry even when decode is out of profile
                thunk.true_dims = \
                    lambda ref=ref, d=d: self._image_true_dims(ref, d)
                return ("image", w, h, thunk)
            if sub != "Form":
                return None
            body = self.stream_bytes(ref)
            sub_res = d.get("Resources") or resources
            return ("form", body, self._fonts(sub_res),
                    self._xobject_lookup(sub_res))
        return lookup

    # -- fonts / encodings ----------------------------------------------------
    def _fonts(self, resources) -> dict:
        """name -> (decode callable (bytes -> str), is_math_font, adv_fn).

        is_math comes from the /BaseFont name (CM/LM math families,
        Symbol, AMS fonts) — the signal pdf_spans uses to classify runs
        into formula vs prose spans. adv_fn(raw) returns the shown
        string's advance in text-space ems (sum of /Widths entries /1000)
        when the font carries real metrics, or None — the caller then
        falls back to the 0.5 em/glyph average model. Real metrics matter
        for layout: with the average model every run of a narrow face
        (Libertine ≈ 0.435 em) overhangs ~15% — enough to flood a
        two-column gutter and break the XY-cut."""
        fonts: dict = {}
        resources = self.resolve(resources)
        if not isinstance(resources, dict):
            return fonts
        fdict = self.resolve(resources.get("Font"))
        if not isinstance(fdict, dict):
            return fonts
        for name, ref in fdict.items():
            # r7: decoder/metrics construction is pure in the font OBJECT,
            # and documents reuse the same font refs across pages — cache
            # per indirect ref so a 100-page doc builds each decoder once
            if isinstance(ref, _Ref):
                cached = self._font_cache.get(int(ref))
                if cached is not None:
                    fonts[name] = cached
                    continue
            font = self.resolve(ref)
            if isinstance(font, dict):
                base = str(font.get("BaseFont", ""))
                entry = (self._font_decoder(font),
                         bool(_MATH_FONT_RE.search(base)),
                         self._font_advance(font))
                fonts[name] = entry
                if isinstance(ref, _Ref):
                    self._font_cache[int(ref)] = entry
        return fonts

    def _font_advance(self, font: dict):
        """Advance function from real font metrics: simple fonts index
        /Widths by byte code from /FirstChar (PDF 32000-1 §9.6.2); Type0
        fonts use the descendant CIDFont's /W runs with /DW default 1000
        (§9.7.4.3). Returns None when no metrics are present."""
        subtype = str(font.get("Subtype", ""))
        if subtype == "Type0":
            desc = self.resolve(font.get("DescendantFonts"))
            d0 = self.resolve(desc[0]) if isinstance(desc, list) and desc else None
            if not isinstance(d0, dict):
                return None
            dw = float(self.resolve(d0.get("DW", 1000)) or 1000)
            cid_w: dict[int, float] = {}
            w = self.resolve(d0.get("W"))
            if isinstance(w, list):
                i = 0
                while i < len(w):
                    a = self.resolve(w[i])
                    b = self.resolve(w[i + 1]) if i + 1 < len(w) else None
                    if isinstance(b, list):
                        for k, wi in enumerate(b):
                            cid_w[int(a) + k] = float(self.resolve(wi))
                        i += 2
                    elif b is not None and i + 2 < len(w):
                        wi = float(self.resolve(w[i + 2]))
                        for c in range(int(a), int(b) + 1):
                            cid_w[c] = wi
                        i += 3
                    else:
                        break

            def adv0(raw: bytes) -> float:
                total = 0.0
                for j in range(0, len(raw) - 1, 2):
                    cid = (raw[j] << 8) | raw[j + 1]
                    total += cid_w.get(cid, dw)
                return total / 1000.0
            return adv0
        widths = self.resolve(font.get("Widths"))
        if not isinstance(widths, list) or not widths:
            return None
        try:
            table = [float(self.resolve(x) or 0) for x in widths]
        except (TypeError, ValueError):
            return None
        fc = int(self.resolve(font.get("FirstChar", 0)) or 0)

        def adv(raw: bytes) -> float:
            total = 0.0
            for b in raw:
                k = b - fc
                # 0-width table entries (unused slots) fall back to the
                # average model rather than collapsing the run
                total += table[k] if 0 <= k < len(table) and table[k] > 0 \
                    else 500.0
            return total / 1000.0
        return adv

    def _font_decoder(self, font: dict):
        tounicode: dict[int, str] = {}
        tu = font.get("ToUnicode")
        if isinstance(tu, _Ref):
            cmap = self.stream_bytes(tu)
            if cmap:
                tounicode = _parse_tounicode(cmap)
        if str(font.get("Subtype", "")) == "Type0":
            enc = font.get("Encoding")
            if isinstance(enc, _Ref):
                # embedded CMap stream (non-Identity CID encoding): the
                # codespace ranges drive variable code widths and the
                # cidchar/cidrange sections give the CID fallback when a
                # code is missing from /ToUnicode (PDF 32000-1 §9.7.5.3)
                data = self.stream_bytes(enc)
                if data:
                    codespaces, cidmap, cidranges = _parse_cid_cmap(data)
                    if codespaces:
                        return _cid_cmap_decoder(
                            codespaces, cidmap, cidranges, tounicode)
            # /Identity-H et al.: 2-byte codes
            return _cid2_decoder(tounicode)
        enc = self.resolve(font.get("Encoding"))
        base = enc if isinstance(enc, _Name) else None
        diffs: list = []
        if isinstance(enc, dict):
            base = self.resolve(enc.get("BaseEncoding"))
            d = self.resolve(enc.get("Differences"))
            if isinstance(d, list):
                diffs = d
        table = list(_base_table(str(base) if base else ""))
        code = 0
        for item in diffs:
            item = self.resolve(item)
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, _Name) and 0 <= code < 256:
                u = glyph_to_unicode(str(item))
                table[code] = "�" if u is None else u
                code += 1
        # /ToUnicode wins over /Encoding (pypdf precedence): the embedded-
        # font path real PDFs use for non-latin glyphs.
        for c, s in tounicode.items():
            if 0 <= c < 256:
                table[c] = s
        return _simple_decoder(table)


_BFCHAR_SECTION_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_SECTION_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_BFCHAR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_BFRANGE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(?:<([0-9A-Fa-f]+)>|\[(.*?)\])",
    re.S,
)
_HEX_ITEM_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _utf16be(hexstr: bytes) -> str:
    try:
        return bytes.fromhex(hexstr.decode("ascii")).decode(
            "utf-16-be", "replace")
    except ValueError:
        return "�"


def _parse_tounicode(cmap: bytes) -> dict[int, str]:
    """bfchar/bfrange mappings of a /ToUnicode CMap as {code: text}
    (PDF 32000-1 §9.10.3; destination hex = UTF-16BE). Codes may be 1- or
    2-byte — the font's code width decides how show-strings index this."""
    out: dict[int, str] = {}
    for section in _BFCHAR_SECTION_RE.findall(cmap):
        for src, dst in _BFCHAR_RE.findall(section):
            out[int(src, 16)] = _utf16be(dst)
    for section in _BFRANGE_SECTION_RE.findall(cmap):
        for m in _BFRANGE_RE.finditer(section):
            lo, hi = int(m.group(1), 16), int(m.group(2), 16)
            if hi - lo > 0x10000:  # malformed guard
                continue
            if m.group(3) is not None:  # <lo> <hi> <dstStart>
                base_cp = bytes.fromhex(m.group(3).decode("ascii"))
                width = len(base_cp)
                base_int = int.from_bytes(base_cp, "big")
                for k in range(hi - lo + 1):
                    # increment the last code unit (spec semantics)
                    out[lo + k] = (base_int + k).to_bytes(width, "big").decode(
                        "utf-16-be", "replace")
            else:  # <lo> <hi> [<dst1> <dst2> ...]
                for k, dst in enumerate(_HEX_ITEM_RE.findall(m.group(4))):
                    if lo + k <= hi:
                        out[lo + k] = _utf16be(dst)
    return out


def _simple_decoder(table: list[str]):
    def decode(raw: bytes) -> str:
        return "".join(table[b] for b in raw)
    return decode


_CSRANGE_SECTION_RE = re.compile(
    rb"begincodespacerange(.*?)endcodespacerange", re.S)
_CIDCHAR_SECTION_RE = re.compile(rb"begincidchar(.*?)endcidchar", re.S)
_CIDRANGE_SECTION_RE = re.compile(rb"begincidrange(.*?)endcidrange", re.S)
_CSRANGE_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_CIDCHAR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s+(\d+)")
_CIDRANGE_CMAP_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s+(\d+)")


def _parse_cid_cmap(data: bytes):
    """Embedded CID CMap (PDF 32000-1 §9.7.5.3): codespace ranges (the hex
    literal's byte count IS the code width), cidchar singletons and
    cidrange runs. Returns (codespaces[(nbytes, lo, hi)] sorted by width,
    {code: cid}, [(lo, hi, cid0)])."""
    codespaces = []
    for sec in _CSRANGE_SECTION_RE.findall(data):
        for lo, hi in _CSRANGE_RE.findall(sec):
            codespaces.append((len(lo) // 2, int(lo, 16), int(hi, 16)))
    cidmap: dict[int, int] = {}
    for sec in _CIDCHAR_SECTION_RE.findall(data):
        for code, cid in _CIDCHAR_RE.findall(sec):
            cidmap[int(code, 16)] = int(cid)
    cidranges = []
    for sec in _CIDRANGE_SECTION_RE.findall(data):
        for lo, hi, cid in _CIDRANGE_CMAP_RE.findall(sec):
            cidranges.append((int(lo, 16), int(hi, 16), int(cid)))
    return sorted(codespaces), cidmap, cidranges


def _cid_cmap_decoder(codespaces, cidmap, cidranges, tounicode):
    """Type0 decode through an embedded CMap: consume the SHORTEST
    codespace range matching at the cursor (mixed 1-/2-byte streams per
    the Adobe-Japan1 shape), then /ToUnicode by code, falling back to the
    CID codepoint; a byte matching no range skips the narrowest width
    (§9.7.6.3 error handling)."""
    min_w = codespaces[0][0]

    def to_cid(code: int):
        if code in cidmap:
            return cidmap[code]
        for lo, hi, cid0 in cidranges:
            if lo <= code <= hi:
                return cid0 + code - lo
        return None

    def decode(raw: bytes) -> str:
        out = []
        i, n = 0, len(raw)
        while i < n:
            for nb, lo, hi in codespaces:
                if i + nb > n:
                    continue
                code = int.from_bytes(raw[i:i + nb], "big")
                if lo <= code <= hi:
                    u = tounicode.get(code)
                    if u is None:
                        cid = to_cid(code)
                        u = chr(cid) if cid is not None else chr(code)
                    out.append(u)
                    i += nb
                    break
            else:
                i += min_w
        return "".join(out)
    return decode


def _cid2_decoder(cmap: dict[int, str]):
    """Type0 /Identity-H: 2-byte big-endian codes through the ToUnicode
    map; unmapped codes fall back to the identity codepoint (pypdf
    behavior for Identity-H without a complete map)."""
    def decode(raw: bytes) -> str:
        out = []
        for i in range(0, len(raw) - 1, 2):
            code = (raw[i] << 8) | raw[i + 1]
            out.append(cmap.get(code, chr(code)))
        return "".join(out)
    return decode


_BASE_TABLES: dict[str, list[str]] = {}


def _base_table(name: str) -> list[str]:
    codec = {"WinAnsiEncoding": "cp1252", "MacRomanEncoding": "mac_roman"}.get(
        name, "latin-1"
    )
    tbl = _BASE_TABLES.get(codec)
    if tbl is None:
        tbl = [bytes([i]).decode(codec, "replace") for i in range(256)]
        _BASE_TABLES[codec] = tbl
    return tbl


_DEFAULT_DECODER = _simple_decoder(_base_table(""))

# AGL subset: glyph names used by /Differences arrays (Adobe Glyph List).
_GLYPHS: dict[str, str] = {
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
    "bullet": "•", "emdash": "—", "endash": "–",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "Euro": "€", "trademark": "™", "copyright": "©",
    "registered": "®", "degree": "°", "plusminus": "±",
    "multiply": "×", "divide": "÷", "section": "§",
    "paragraph": "¶", "mu": "µ", "cent": "¢",
    "sterling": "£", "yen": "¥", "florin": "ƒ",
    "germandbls": "ß", "eacute": "é", "egrave": "è",
    "agrave": "à", "ccedilla": "ç", "ntilde": "ñ",
    "adieresis": "ä", "odieresis": "ö", "udieresis": "ü",
    "Adieresis": "Ä", "Odieresis": "Ö", "Udieresis": "Ü",
    "aring": "å", "oslash": "ø", "ae": "æ",
}
_GLYPHS.update({c: c for c in
                "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"})

# Greek (AGL names) — the CM/LM math-italic fonts (CMMI/LMMathItalic) name
# their glyphs with these; reference behavior = pypdf's AGL lookup
# (parsers/pypdf/__main__.py:30-32 is the cheapest deterministic backend).
_GLYPHS.update({
    "alpha": "α", "beta": "β", "gamma": "γ", "delta": "δ", "epsilon": "ε",
    "zeta": "ζ", "eta": "η", "theta": "θ", "iota": "ι", "kappa": "κ",
    "lambda": "λ", "mu": "μ", "nu": "ν", "xi": "ξ", "omicron": "ο",
    "pi": "π", "rho": "ρ", "sigma": "σ", "tau": "τ", "upsilon": "υ",
    "phi": "φ", "chi": "χ", "psi": "ψ", "omega": "ω",
    "Gamma": "Γ", "Delta": "Δ", "Theta": "Θ", "Lambda": "Λ", "Xi": "Ξ",
    "Pi": "Π", "Sigma": "Σ", "Upsilon": "Υ", "Phi": "Φ", "Psi": "Ψ",
    "Omega": "Ω",
    # CM variant forms (AGL *1 names)
    "theta1": "ϑ", "phi1": "ϕ", "pi1": "ϖ", "rho1": "ϱ", "sigma1": "ς",
    "epsilon1": "ϵ",
})

# math operators / relations / arrows (CMSY / LMMathSymbols names)
_GLYPHS.update({
    "minus": "−", "periodcentered": "·", "dotmath": "⋅", "asteriskmath": "∗",
    "prime": "′", "infinity": "∞", "element": "∈", "owner": "∋",
    "notelement": "∉", "similar": "∼", "approxequal": "≈",
    "lessequal": "≤", "greaterequal": "≥", "lessmuch": "≪",
    "greatermuch": "≫", "equivalence": "≡", "congruent": "≅",
    "notequal": "≠", "proportional": "∝", "perpendicular": "⊥",
    "propersubset": "⊂", "propersuperset": "⊃", "reflexsubset": "⊆",
    "reflexsuperset": "⊇", "union": "∪", "intersection": "∩",
    "logicaland": "∧", "logicalor": "∨", "logicalnot": "¬",
    "universal": "∀", "existential": "∃", "emptyset": "∅",
    "partialdiff": "∂", "nabla": "∇", "gradient": "∇", "radical": "√",
    "summation": "∑", "product": "∏", "coproduct": "∐", "integral": "∫",
    "contintegral": "∮", "circleplus": "⊕", "circleminus": "⊖",
    "circlemultiply": "⊗", "circledivide": "⊘", "circledot": "⊙",
    "circlecopyrt": "○", "openbullet": "◦", "diamondmath": "⋄",
    "arrowleft": "←", "arrowright": "→", "arrowup": "↑", "arrowdown": "↓",
    "arrowboth": "↔", "arrowdblleft": "⇐", "arrowdblright": "⇒",
    "arrowdblup": "⇑", "arrowdbldown": "⇓", "arrowdblboth": "⇔",
    "angbracketleft": "⟨", "angbracketright": "⟩",
    "bardbl": "∥", "negationslash": "̸", "vector": "⃗",
    "turnstileleft": "⊢", "turnstileright": "⊣",
    "follows": "≻", "precedes": "≺", "wreathproduct": "≀",
    "aleph": "ℵ", "weierstrass": "℘", "lscript": "ℓ", "planckover2pi": "ℏ",
    "vextendsingle": "|", "vextenddouble": "∥",
    "dotlessi": "ı", "dotlessj": "ȷ", "tie": "͡",
    # spacing accents (CMR /Differences use these names)
    "circumflex": "ˆ", "tilde": "˜", "acute": "´", "grave": "`",
    "dieresis": "¨", "macron": "¯", "breve": "˘", "caron": "ˇ",
    "ring": "˚", "hungarumlaut": "˝", "cedilla": "¸", "dotaccent": "˙",
    "ogonek": "˛", "acutecomb": "́", "gravecomb": "̀",
    # CM wide-accent and geometry names (hatwide/tildewide resolve here
    # through the size-suffix strip)
    "hat": "ˆ", "check": "ˇ", "bar": "¯",
    "triangle": "△", "triangleinv": "▽", "triangleleft": "◁",
    "triangleright": "▷", "star": "⋆", "flat": "♭", "natural": "♮",
    "sharp": "♯", "slurabove": "⌢", "slurbelow": "⌣",
    "latticetop": "⊤", "unionmulti": "⊎", "unionsq": "⊔",
    "intersectionsq": "⊓", "subsetsqequal": "⊑", "supersetsqequal": "⊒",
    "mapsto": "↦", "mapstochar": "↦", "similarequal": "≃",
    "Rfraktur": "ℜ", "Ifraktur": "ℑ",
    "arrowhookleft": "↩", "arrowhookright": "↪",
    "arrowlefttophalf": "↼", "arrowleftbothalf": "↽",
    "arrowrighttophalf": "⇀", "arrowrightbothalf": "⇁",
    "arrownortheast": "↗", "arrowsoutheast": "↘",
    "arrownorthwest": "↖", "arrowsouthwest": "↙",
})

# accented-letter AGL names (Aacute, ecircumflex, ...) — built via
# unicodedata.lookup so the table stays honest to the AGL
_ACCENT_UNAMES = {
    "acute": "ACUTE", "grave": "GRAVE", "circumflex": "CIRCUMFLEX",
    "dieresis": "DIAERESIS", "tilde": "TILDE", "ring": "RING ABOVE",
    "cedilla": "CEDILLA", "macron": "MACRON", "breve": "BREVE",
    "caron": "CARON", "hungarumlaut": "DOUBLE ACUTE", "ogonek": "OGONEK",
    "slash": "STROKE", "dotaccent": "DOT ABOVE",
}

# CMEX/LMMathExtension size-variant suffixes: parenleftbig, summationdisplay,
# integraltext, bracketleft.size1 ... all map to the base glyph's codepoint
_SIZE_SUFFIXES = ("bigg", "bigl", "bigr", "big", "Bigg", "Big", "BIG",
                  "text", "display", "wider", "widest", "wide",
                  "tp", "bt", "mid", "rt", "lft", "up", "dn", "ex")

_GLYPH_CACHE: dict[str, str | None] = {}


def glyph_to_unicode(name: str) -> str | None:
    """Resolve a PostScript glyph name to text per the Adobe Glyph List
    conventions (AGL specification: uniXXXX / uXXXX[XX] forms, ligature
    underscores, '.'-suffixed variants) plus the CM/LM math-font families'
    size-variant names — the lookup pypdf performs for the reference's
    cheapest backend (parsers/pypdf/__main__.py:30-32). None if unknown."""
    hit = _GLYPH_CACHE.get(name, "")
    if hit != "":
        return hit
    out = _glyph_resolve(name)
    _GLYPH_CACHE[name] = out
    return out


def _glyph_resolve(name: str) -> str | None:
    if not name:
        return None
    v = _GLYPHS.get(name)
    if v is not None:
        return v
    # AGL uniXXXX(XXXX)* — one char per 4 hex digits
    if name.startswith("uni") and len(name) >= 7:
        hexpart = name[3:]
        if len(hexpart) % 4 == 0 and all(
                c in "0123456789ABCDEFabcdef" for c in hexpart):
            try:
                return "".join(chr(int(hexpart[k:k + 4], 16))
                               for k in range(0, len(hexpart), 4))
            except ValueError:
                return None
    # AGL uXXXX / uXXXXX / uXXXXXX
    if name.startswith("u") and 5 <= len(name) <= 7 and all(
            c in "0123456789ABCDEFabcdef" for c in name[1:]):
        try:
            cp = int(name[1:], 16)
            if cp <= 0x10FFFF:
                return chr(cp)
        except ValueError:
            return None
    # '.'-suffixed variant (summation.size1, u1D463.alt, uni007C.ex)
    if "." in name:
        return glyph_to_unicode(name.split(".", 1)[0])
    # ligatures: explicit names and underscore-joined components
    if name in ("fi", "fl", "ff", "ffi", "ffl"):
        return name
    if "_" in name:
        parts = [glyph_to_unicode(p) for p in name.split("_")]
        if all(p is not None for p in parts):
            return "".join(parts)  # type: ignore[arg-type]
        return None
    # accented latin letter (Aacute, ecircumflex, ...)
    if len(name) > 1 and name[0].isalpha() and name[1:].lower() in {
            k.lower() for k in _ACCENT_UNAMES}:
        import unicodedata
        accent = _ACCENT_UNAMES.get(name[1:]) or _ACCENT_UNAMES.get(
            name[1:].lower())
        case = "CAPITAL" if name[0].isupper() else "SMALL"
        try:
            return unicodedata.lookup(
                f"LATIN {case} LETTER {name[0].upper()} WITH {accent}")
        except KeyError:
            return None
    # CMEX size variants: strip the longest matching suffix, retry the base
    for suf in _SIZE_SUFFIXES:
        if name.endswith(suf) and len(name) > len(suf):
            base = glyph_to_unicode(name[:-len(suf)])
            if base is not None:
                return base
    return None


# ---------------------------------------------------------------------------
# Content-stream interpreter
# ---------------------------------------------------------------------------

_CONTENT_TOKEN = re.compile(
    rb"""\(|<<|>>|<|\[|\]|\{|\}
      |/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*
      |[-+]?(?:\d+\.?\d*|\.\d+)
      |[A-Za-z'"][A-Za-z0-9*'"]*""",
    re.X,
)


def _page_runs(content: bytes, fonts: dict, xobj_fn=None, depth: int = 0,
               images: list | None = None, ctm0=None):
    """Interpret one page's content stream; return
    [(x, y_pdf, width_pt, height_pt, text), ...].

    Tracks the text line matrix translation across Tm/Td/TD/T* so one BT/ET
    block with many show ops produces one run per text line (matching pypdf's
    per-line extraction, parsers/pypdf/__main__.py:30-32). Run GEOMETRY is
    real, not a fixture constant: the active font size from ``Tf`` (times
    the ``Tm`` scale) gives the run height, and width accrues at
    0.5·size·len per shown string (the CM/LM average advance) — so the
    XY-cut over these boxes keeps two-column math PDFs column-major instead
    of fragmenting formula runs across the gutter. Rotation in Tm is
    ignored for layout (translation + axis scale only).

    The GRAPHICS state tracked is the CTM (`cm` composition under `q`/`Q`
    nesting) — not for text (fixtures place text via Tm) but for Image
    XObjects: an image `Do` paints the unit square through the CTM, so its
    user-space rect is the transformed square's bounding box; collected
    into `images` as (x, y_pdf, w, h) when the caller passes a list
    (M11: parsers/olmocr/__main__.py:59-61 figure-ref emission)."""
    runs: list[tuple[float, float, float, float, str, bool]] = []
    stack: list = []
    ctm = ctm0 or (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)  # (a, b, c, d, e, f)
    gs_stack: list = []
    lx = ly = 0.0
    leading = 0.0
    cur_font = _DEFAULT_DECODER
    cur_math = False
    cur_adv = None
    cur_size = 12.0
    char_sp = word_sp = 0.0  # Tc / Tw spacing (pt, text space)
    hscale = 1.0             # Tz horizontal scaling (fraction)
    tm_a = tm_d = 1.0  # Tm axis scale (text space -> user space)
    buf: list[str] = []
    buf_pos = (0.0, 0.0)
    buf_w = 0.0
    buf_h = 0.0
    pen = 0.0  # advance from line start (same 0.5*size*len model as buf_w)

    def flush():
        nonlocal buf, buf_w, buf_h
        if buf:
            text = "".join(buf)
            if text:
                runs.append((buf_pos[0], buf_pos[1],
                             buf_w, buf_h or cur_size * tm_d, text,
                             cur_math))
            buf = []
            buf_w = 0.0
            buf_h = 0.0

    def show(raw: bytes):
        nonlocal buf_pos, buf_w, buf_h, pen
        if not buf:
            buf_pos = (lx + pen, ly)
        s = cur_font(raw)
        buf.append(s)
        if cur_adv is not None:
            adv = cur_adv(raw) * cur_size
        else:
            adv = 0.5 * cur_size * len(s)
        # Tc adds per glyph, Tw per space (byte 32, 1-byte encodings),
        # Tz scales horizontally (§9.3) — all identity at defaults
        if char_sp or word_sp:
            adv += char_sp * len(s) + word_sp * raw.count(b" ")
        adv *= hscale * tm_a
        buf_w += adv
        pen += adv
        buf_h = max(buf_h, cur_size * tm_d)

    def move(tx: float, ty: float):
        nonlocal lx, ly, pen
        flush()
        lx += tx
        ly += ty
        pen = 0.0

    data = content
    i = 0
    n = len(data)
    while i < n:
        i = _skip_ws(data, i)
        if i >= n:
            break
        m = _CONTENT_TOKEN.match(data, i)
        if not m:
            i += 1
            continue
        tok = m.group()
        if tok == b"(":
            s, i = _parse_literal_string(data, i)
            stack.append(s)
            continue
        if tok == b"<":
            try:
                s, i = _parse_hex_string(data, i)
            except ValueError:
                break
            stack.append(s)
            continue
        i = m.end()
        if tok == b"[":
            stack.append("[")
            continue
        if tok == b"]":
            arr: list = []
            while stack and stack[-1] != "[":
                arr.append(stack.pop())
            if stack:
                stack.pop()
            arr.reverse()
            stack.append(arr)
            continue
        if tok in (b"<<", b">>", b"{", b"}"):
            continue
        c0 = tok[0]
        if c0 == 0x2F:  # name operand
            stack.append(_Name(tok[1:].decode("latin-1")))
            continue
        if c0 == 0x2B or c0 == 0x2D or c0 == 0x2E or 0x30 <= c0 <= 0x39:
            stack.append(float(tok))
            continue
        # --- operator dispatch ---
        op = tok
        try:
            if op == b"BT":
                flush()
                lx = ly = 0.0
                leading = 0.0
                pen = 0.0
            elif op == b"ET":
                flush()
            elif op == b"Tm" and len(stack) >= 6:
                flush()
                lx, ly = float(stack[-2]), float(stack[-1])
                tm_a = abs(float(stack[-6])) or 1.0
                tm_d = abs(float(stack[-3])) or 1.0
                pen = 0.0
            elif op == b"Td" and len(stack) >= 2:
                move(float(stack[-2]), float(stack[-1]))
            elif op == b"TD" and len(stack) >= 2:
                leading = -float(stack[-1])
                move(float(stack[-2]), float(stack[-1]))
            elif op == b"T*":
                move(0.0, -leading)
            elif op == b"TL" and stack:
                leading = float(stack[-1])
            elif op == b"Tc" and stack:
                char_sp = float(stack[-1])
            elif op == b"Tw" and stack:
                word_sp = float(stack[-1])
            elif op == b"Tz" and stack:
                hscale = (abs(float(stack[-1])) or 100.0) / 100.0
            elif op == b"Tf" and len(stack) >= 2 and isinstance(stack[-2], _Name):
                entry = fonts.get(
                    str(stack[-2]), (_DEFAULT_DECODER, False, None))
                if entry[1] != cur_math:
                    # math<->prose font switch splits the run so spans
                    # classify cleanly; same-kind switches keep one run
                    flush()
                cur_font, cur_math = entry[0], entry[1]
                cur_adv = entry[2] if len(entry) > 2 else None
                cur_size = abs(float(stack[-1])) or cur_size
            elif op == b"Tj" and stack and isinstance(stack[-1], bytes):
                show(stack[-1])
            elif op == b"'" and stack and isinstance(stack[-1], bytes):
                move(0.0, -leading)
                show(stack[-1])
            elif op == b'"' and stack and isinstance(stack[-1], bytes):
                move(0.0, -leading)
                show(stack[-1])
            elif op == b"TJ" and stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, bytes):
                        show(el)
                    elif isinstance(el, float) and el <= _TJ_SPACE_KERN:
                        if not buf:
                            buf_pos = (lx + pen, ly)
                        buf.append(" ")
                        # with real metrics the space IS the kern's width
                        # (LaTeX emits inter-word glue as TJ kerns);
                        # average model keeps the 0.5 em space
                        k = (-el / 1000.0 if cur_adv is not None else 0.5
                             ) * cur_size * hscale * tm_a
                        buf_w += k
                        pen += k
                    elif isinstance(el, float) and cur_adv is not None:
                        # sub-threshold kern: shifts the pen without
                        # implying a space (exact-metrics mode only)
                        k = -el / 1000.0 * cur_size * hscale * tm_a
                        buf_w += k
                        pen += k
            elif op == b"q":
                gs_stack.append(ctm)
            elif op == b"Q":
                if gs_stack:
                    ctm = gs_stack.pop()
            elif op == b"cm" and len(stack) >= 6:
                # CTM' = M × CTM (row-vector convention: coordinates pass
                # through the NEW matrix first)
                ma, mb, mc, md, me, mf = (float(v) for v in stack[-6:])
                ca, cb, cc, cd, ce, cf = ctm
                ctm = (ma * ca + mb * cc, ma * cb + mb * cd,
                       mc * ca + md * cc, mc * cb + md * cd,
                       me * ca + mf * cc + ce, me * cb + mf * cd + cf)
            elif op == b"Do" and stack and isinstance(stack[-1], _Name):
                if xobj_fn is not None and depth < 8:
                    sub = xobj_fn(str(stack[-1]))
                    if sub and sub[0] == "form":
                        # Form XObject: recurse with the form's own
                        # resources; text state does not leak across the
                        # boundary (§8.10), the CTM does
                        runs.extend(_page_runs(sub[1], sub[2], sub[3],
                                               depth + 1, images, ctm))
                    elif sub and sub[0] == "image" and images is not None:
                        # unit square through the CTM -> user-space rect
                        a, b, c, d, e, f = ctm
                        xs = (e, a + e, c + e, a + c + e)
                        ys = (f, b + f, d + f, b + d + f)
                        x0, y0 = min(xs), min(ys)
                        images.append((x0, y0, max(xs) - x0,
                                       max(ys) - y0, sub[3]))
            elif op == b"BI":  # inline image: record rect, skip to EI
                if images is not None:
                    # an inline image paints the unit square through the
                    # CTM exactly like an Image XObject (§8.9.7)
                    a, b, c, d, e, f = ctm
                    xs = (e, a + e, c + e, a + c + e)
                    ys = (f, b + f, d + f, b + d + f)
                    x0, y0m = min(xs), min(ys)
                    images.append((x0, y0m, max(xs) - x0,
                                   max(ys) - y0m, None))
                e = data.find(b"EI", i)
                i = n if e < 0 else e + 2
        except (TypeError, ValueError):
            pass
        stack.clear()
    flush()
    return runs


def _run_boxes(runs, page_h: float) -> np.ndarray:
    """Top-left-origin boxes: the glyph box sits ABOVE the baseline (ascent
    ~= font size); width is the run's real accumulated advance, so the
    two-column gutter stays whitespace and the XY-cut splits on it."""
    return np.array(
        [[x, page_h - y - (h or _LINE_H), x + (w or _RUN_W), page_h - y]
         for x, y, w, h, _t, _m in runs]
    )


_CELL_NUM_RE = re.compile(r"^[±+-]?[0-9][0-9.,%/]*(?:[Ee][+-]?[0-9]+)?$")


def _tablelike_mask(runs) -> "np.ndarray":
    """Per-run table-likeness for the content-gated narrow-gutter cut:
    a run reading as label + numeric cells ('Education 11',
    'CC12M-NegCap 58.5 57.8') — the same row signature the span-level
    table detector keys on, evaluated per run."""
    out = []
    for _x, _y, _w, _h, text, _m in runs:
        toks = text.split()
        n_num = sum(1 for t in toks if _CELL_NUM_RE.match(t))
        out.append(len(toks) >= 2 and (
            n_num >= 2 or (n_num >= 1
                           and _CELL_NUM_RE.match(toks[-1]) is not None)))
        # NOTE: lone numeric runs ('143') must NOT count as cells even
        # though one-run-per-cell grids render them: marking them was
        # measured net-negative (q4 -37 / formulas -19 segments vs
        # tables +-0 at first-100) — equation digit columns mis-seed
        # the float lift far more often than real cell grids benefit.
    return np.array(out, dtype=bool)


def _prose_gap_mask(runs) -> "np.ndarray":
    """Long prose lines (>= 4 tokens, no numeric cells) — the runs
    typeset to the column measure, whose x-extents expose the column
    gutter even when table rows/header fragments bridge it (layout's
    prose-gutter rescue cut)."""
    out = []
    for _x, _y, _w, _h, text, _m in runs:
        toks = text.split()
        out.append(len(toks) >= 4
                   and not any(_CELL_NUM_RE.match(t) for t in toks))
    return np.array(out, dtype=bool)


def _runs_to_text(runs, page_h: float) -> str:
    if not runs:
        return ""
    order = reading_order(_run_boxes(runs, page_h),
                          table_mask=_tablelike_mask(runs),
                          prose_mask=_prose_gap_mask(runs))
    return "\n".join(runs[i][4] for i in order)


_MATH_LINE_FRAC = 0.3  # math-glyph mass above which a baseline is formula
# a prose-font run on a formula baseline carrying a real word (>= 4
# letters) is wrapped sentence text, not formula notation
_PROSE_WORD_RE = re.compile(r"[^\W\d_]{4,}")


def _runs_to_spans(runs, page_h: float,
                   images: list | None = None) -> list[tuple[str, str, str]]:
    """Reading-ordered (kind, text, media_ref) spans for one page — the
    dots.ocr block-category contract (parsers/dots_ocr/__main__.py:125-142)
    recovered from font metadata instead of a VLM:

      - reading-ordered runs group into BASELINES (|Δy| <= 2pt between
        order-adjacent runs), members x-sorted within the line;
      - a line whose math-font glyph mass is >= 30% of its characters is a
        FORMULA line (CM sets digits/function names in CMR inside
        formulas, so run-level font tags alone fragment display math);
        consecutive formula lines merge into ONE display-formula span
        (multi-baseline fraction/limit layouts);
      - math runs sitting inside a prose line are inline-formula spans,
        emitted between the line's text pieces in x order;
      - consecutive same-kind emissions merge (newline-joined);
      - Image XObjects (`images`: (x, y_pdf, w, h) user-space rects from
        _page_runs) become kind='image' spans with the olmOCR figure-ref
        convention page_<x>_<ytop>_<w>_<h>.png (parsers/olmocr/
        __main__.py:59-61), inserted into the line sequence by top-origin
        y (a figure sits between the baselines above and below it); images
        never merge with neighbors."""
    img_spans = [
        ("image", "",
         f"page_{round(x)}_{round(page_h - y - h)}_{round(w)}_{round(h)}.png",
         page_h - y - h)
        for x, y, w, h, *_px in (images or [])
    ]
    if not runs:
        return [(k, t, m) for k, t, m, _y in
                sorted(img_spans, key=lambda s: s[3])]
    # merge_satellites off: this path groups lines by consecutive
    # baseline itself (and classifies formula lines from the grouping),
    # so sub-baseline fragments must keep their own bands here
    order = reading_order(_run_boxes(runs, page_h),
                          table_mask=_tablelike_mask(runs),
                          prose_mask=_prose_gap_mask(runs),
                          merge_satellites=False)
    lines: list[list[int]] = []
    for i in order:
        if lines and abs(runs[i][1] - runs[lines[-1][-1]][1]) <= 2.0:
            lines[-1].append(i)
        else:
            lines.append([i])
    lines = [sorted(m, key=lambda j: (runs[j][0], runs[j][1]))
             for m in lines]
    n_lines = len(lines)
    is_formula = []
    line_len = []
    for members in lines:
        total = sum(len(runs[i][4]) for i in members) or 1
        math_len = sum(len(runs[i][4]) for i in members if runs[i][5])
        is_formula.append(math_len / total >= _MATH_LINE_FRAC)
        line_len.append(total)
    # sandwich smoothing: CM sets digits/operators of display math in CMR
    # (prose font), so a SHORT all-prose baseline between two formula
    # baselines (fraction numerals, 'ln'/'tan' function names) belongs to
    # the display block; iterate to fixpoint (nested layouts)
    k = 0
    while k < n_lines:
        if not is_formula[k]:
            j = k
            while j < n_lines and not is_formula[j]:
                j += 1
            gap_ok = (k > 0 and j < n_lines and (j - k) <= 3
                      and all(line_len[t] <= 24 for t in range(k, j)))
            if gap_ok:
                for t in range(k, j):
                    is_formula[t] = True
            k = j
        else:
            k += 1
    # super/subscript absorption: a SHORT prose line riding a raised or
    # lowered baseline right next to a formula line (|Δy| <= 10pt) while
    # its other neighbor sits a full line away (>= 20pt) is part of the
    # formula (CM superscripts get their own baseline above the block)
    line_y = [runs[m[0]][1] for m in lines]
    for k in range(n_lines):
        if is_formula[k] or line_len[k] > 12:
            continue
        near_prev = k > 0 and abs(line_y[k] - line_y[k - 1]) <= 10.0
        near_next = k + 1 < n_lines and abs(line_y[k] - line_y[k + 1]) <= 10.0
        far_prev = k == 0 or abs(line_y[k] - line_y[k - 1]) >= 20.0
        far_next = k + 1 >= n_lines or abs(line_y[k] - line_y[k + 1]) >= 20.0
        if (near_next and k + 1 < n_lines and is_formula[k + 1] and far_prev) \
                or (near_prev and is_formula[k - 1] and far_next):
            is_formula[k] = True

    # table detection: a block of >=3 consecutive prose baselines whose
    # rows read column-like (>=2 numeric-ish tokens, or a trailing numeric
    # field) is a table (booktabs tables reach the glyph stream as plain
    # aligned text runs — no ruling lines to see); one short header line
    # above the block is absorbed. Prose paragraphs don't end 3+ straight
    # lines in bare numerals, so false positives stay rare.
    is_table = [False] * n_lines
    num_re = re.compile(r"^[±+-]?[0-9][0-9.,%]*$")

    def _rowlike(k: int) -> bool:
        text = " ".join(runs[i][4] for i in lines[k])
        toks = text.split()
        if len(toks) < 2:
            return False
        n_num = sum(1 for t in toks if num_re.match(t))
        if is_formula[k]:
            # a math-classified baseline joins a table block only as a
            # bracketed-unit parameter row ('µ max [day−1] 1.8144'):
            # trailing numeric + a [..] unit. Aligned display equations
            # (which can also end in a numeral) carry no unit brackets.
            return (n_num >= 1 and num_re.match(toks[-1]) is not None
                    and "[" in text and "]" in text)
        return n_num >= 2 or (n_num >= 1 and num_re.match(toks[-1]) is not None)

    k = 0
    while k < n_lines:
        if _rowlike(k):
            # chain consecutive rows, absorbing up to 2 gap lines between
            # genuine rows when they look like table furniture rather than
            # prose: sub/superscript cell fragments ('40k†' banding as 'k',
            # '†'), row labels ('ResNet50') and header rows ('Vitis Calyx
            # ...') are short and never end in a period
            j = k
            last_row = k
            while j < n_lines:
                if _rowlike(j):
                    last_row = j
                    j += 1
                elif (j - last_row <= 2 and line_len[j] <= 40
                      and not "".join(
                          runs[i][4] for i in lines[j]).rstrip().endswith(".")):
                    j += 1
                else:
                    break
            j = last_row + 1  # trailing debris stays outside the block
            if sum(1 for t in range(k, j) if _rowlike(t)) >= 3:
                for t in range(k, j):
                    is_table[t] = True
                    is_formula[t] = False  # table block wins the overlap
                hdr = k - 1  # absorb one short non-sentence header line
                if (hdr >= 0 and not is_formula[hdr] and not is_table[hdr]
                        and line_len[hdr] <= 60
                        and not "".join(
                            runs[i][4] for i in lines[hdr]).rstrip()
                        .endswith(".")):
                    is_table[hdr] = True
            k = j
        else:
            k += 1

    spans: list[list] = []

    def emit(kind: str, text: str):
        if spans and spans[-1][0] == kind and spans[-1][2] == "":
            spans[-1][1].append(text)
        else:
            spans.append([kind, [text], ""])

    # images interleave DURING emission (by top-origin y against each
    # line's baseline-derived y), so a figure between two text baselines
    # SPLITS their merge — same rule the golden generator applies. An
    # image is its own span (non-empty media_ref) and never merges.
    pending = sorted(img_spans, key=lambda s: s[3])
    pi = 0
    for k, members in enumerate(lines):
        y_top = page_h - line_y[k]
        while pi < len(pending) and pending[pi][3] <= y_top:
            spans.append([pending[pi][0], [pending[pi][1]], pending[pi][2]])
            pi += 1
        if is_formula[k]:
            # prose fragments sharing the baseline with display math (a
            # sentence wrapping around an inline equation — 'pre- /
            # [math] / cios.') must NOT be swallowed into the formula:
            # a PROSE-font run containing a >=4-letter word is emitted as
            # its own text segment in x order. Short CMR pieces (digits,
            # 'cos', 'lim', operators) stay inside the formula.
            segs: list[tuple[str, list[int]]] = []
            for i in members:
                prose_word = (not runs[i][5]
                              and _PROSE_WORD_RE.search(runs[i][4]))
                kind = "text" if prose_word else "display-formula"
                if segs and segs[-1][0] == kind:
                    segs[-1][1].append(i)
                else:
                    segs.append((kind, [i]))
            for kind, idxs in segs:
                emit(kind, " ".join(runs[i][4] for i in idxs))
        elif is_table[k]:
            emit("table", " ".join(runs[i][4] for i in members))
        else:
            for i in members:
                emit("inline-formula" if runs[i][5] else "text", runs[i][4])
    while pi < len(pending):
        spans.append([pending[pi][0], [pending[pi][1]], pending[pi][2]])
        pi += 1
    out = [[k, "\n".join(parts), ref] for k, parts, ref in spans]
    # run-level sandwich: a bare operator set in CMR between two math runs
    # on a prose line ('η' '=' 's') belongs to the inline formula
    j = 1
    while j + 1 < len(out):
        mid = out[j][1].strip()
        if (out[j][0] == "text" and out[j - 1][0] == "inline-formula"
                and out[j + 1][0] == "inline-formula"
                and len(mid) <= 3 and not any(c.isalpha() for c in mid)):
            out[j - 1][1] = "\n".join(
                (out[j - 1][1], out[j][1], out[j + 1][1]))
            del out[j:j + 2]
        else:
            j += 1
    return [(k, t, m) for k, t, m in out]


def page_pixmap(runs: list[tuple[float, float, str]], page_w: float,
                page_h: float, dpi: int = 72,
                images: list | None = None) -> np.ndarray:
    """Deterministic glyph-box rasterization of one page's text runs
    (the M5 analog of fitz ``page.get_pixmap(dpi=...)``,
    parsers/dots_ocr/__main__.py:111-118): white canvas, one dark box per
    run sized by its character count — enough geometry for layout-model
    inputs without font outlines. `images` — the
    (x, y_pdf, w, h, pixels) rects _page_runs collects — are painted
    FIRST (text overprints figures, the PDF z-order for a typical page):
    decoded pixels resample into the CTM rect by exact integer
    nearest-neighbor; geometry-only images (pixels None) leave the
    canvas untouched. Returns a (h, w) uint8 grayscale array."""
    scale = dpi / 72.0
    w_px = max(1, int(page_w * scale))
    h_px = max(1, int(page_h * scale))
    img = np.full((h_px, w_px), 255, dtype=np.uint8)
    for x, y_pdf, im_w, im_h, px in (images or []):
        if callable(px):
            px = px()  # lazy decode, forced only here
        if px is None or getattr(px, "size", 0) == 0 \
                or im_w <= 0 or im_h <= 0:
            continue
        x0 = int(x * scale)
        y0 = int((page_h - y_pdf - im_h) * scale)
        tw = max(1, int(im_w * scale))
        th = max(1, int(im_h * scale))
        ys = np.arange(th) * px.shape[0] // th
        xs = np.arange(tw) * px.shape[1] // tw
        cy0, cx0 = max(0, y0), max(0, x0)
        cy1, cx1 = min(h_px, y0 + th), min(w_px, x0 + tw)
        if cy1 > cy0 and cx1 > cx0:
            img[cy0:cy1, cx0:cx1] = px[ys[cy0 - y0:cy1 - y0]][
                :, xs[cx0 - x0:cx1 - x0]]
    for x, y_pdf, run_w, run_h, _text, _m in runs:
        run_w = run_w or _RUN_W
        run_h = run_h or _LINE_H
        x0 = int(x * scale)
        y_top = page_h - y_pdf - run_h  # pdf y is bottom-up
        y0 = int(y_top * scale)
        x1 = min(w_px, x0 + max(1, int(run_w * scale)))
        y1 = min(h_px, y0 + max(1, int(run_h * scale)))
        if x0 < w_px and y1 > 0 and y0 < h_px and x1 > 0:
            img[max(0, y0):y1, max(0, x0):x1] = 40
    return img


def rasterize_pdf(pdf_bytes: bytes, dpi: int = 72,
                  include_png: bool = True):
    """Yield (page_no, png_bytes, width, height, ink_ratio6) per page —
    ink_ratio rounded half-up to 6 dp (engine-portable).

    include_png=False skips the PNG encode (zlib deflate is ~35% of the
    kernel — guide §1.2 "don't compute things you throw away"): the
    raster-STATS consumers only read dims + ink_ratio, and Spark cannot
    column-prune inside an opaque kernel. The pixmap, stats and page walk
    are identical either way; png comes back as None."""
    from pdf_parse_bench_spark.kernels.png import encode_png

    try:
        doc = _PdfDoc(pdf_bytes)
        pages = list(doc.pages())
    except Exception:
        pages = []
    for page_no, (body, fonts, xobj_fn, page_w, page_h) in enumerate(pages):
        images: list = []
        runs = _page_runs(body, fonts, xobj_fn, images=images) \
            if body else []
        img = page_pixmap(runs, page_w or 595.0, page_h or PAGE_H, dpi,
                          images=images)
        ink = float((img < 128).mean())
        yield (page_no, encode_png(img) if include_png else None,
               img.shape[1], img.shape[0],
               float(np.floor(ink * 1e6 + 0.5)) / 1e6)


def pdf_image_stats(pdf_bytes: bytes) -> list[dict]:
    """Per painted image (every `Do` of an Image XObject / inline image,
    page order then content-stream op order): the placement ref
    (page_<x>_<ytop>_<w>_<h>.png, the M11 figure-ref convention), the
    TRUE pixel dims and mean intensity when the image data decodes
    (DCTDecode via kernels/jpeg — baseline and progressive — or raw/
    Flate 8-bit rasters, see _PdfDoc._image_pixels), and
    decoded=False with null stats otherwise — the pixel surface the
    reference reaches through fitz pixmaps
    (parsers/dots_ocr/__main__.py:111-118) for embedded figures."""
    out: list[dict] = []
    try:
        doc = _PdfDoc(pdf_bytes)
        pages = list(doc.pages())
    except Exception:
        return out
    for page_no, (body, fonts, xobj_fn, _page_w, page_h) in \
            enumerate(pages):
        images: list = []
        if body:
            _page_runs(body, fonts, xobj_fn, images=images)
        for x, y, w, h, px in images:
            thunk = px if callable(px) else None
            if callable(px):
                px = px()  # lazy decode, forced only here
            ref = (f"page_{round(x)}_{round(page_h - y - h)}"
                   f"_{round(w)}_{round(h)}.png")
            if px is not None and getattr(px, "size", 0):
                mean = float(px.astype(np.float64).mean()) / 255.0
                out.append({
                    "page_no": page_no, "seq": len(out),
                    "media_ref": ref,
                    "px_w": int(px.shape[1]), "px_h": int(px.shape[0]),
                    "mean_intensity":
                        float(np.floor(mean * 1e6 + 0.5)) / 1e6,
                    "decoded": True})
            else:
                # out-of-profile data (JPX, exotic JBIG2/JPEG): dims
                # still come from the DATA's own headers when present
                dims = getattr(thunk, "true_dims", lambda: None)() \
                    if thunk is not None else None
                out.append({
                    "page_no": page_no, "seq": len(out),
                    "media_ref": ref,
                    "px_w": int(dims[0]) if dims else None,
                    "px_h": int(dims[1]) if dims else None,
                    "mean_intensity": None, "decoded": False})
    return out


# ---------------------------------------------------------------------------
# Fallback for files with no recoverable page tree
# ---------------------------------------------------------------------------

_OBJ_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.S)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)")
_ENDSTREAM_RE = re.compile(rb"\r?\nendstream")


def _iter_raw_streams(pdf_bytes: bytes):
    """Every-stream-is-a-page heuristic for truncated/unindexed files."""
    for om in _OBJ_STREAM_RE.finditer(pdf_bytes):
        obj_dict = om.group(1)
        start = om.end()
        lm = _LENGTH_RE.search(obj_dict)
        if lm:
            body = pdf_bytes[start:start + int(lm.group(1))]
        else:
            em = _ENDSTREAM_RE.search(pdf_bytes, start)
            if not em:
                continue
            body = pdf_bytes[start:em.start()]
        if b"FlateDecode" in obj_dict:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                continue
        yield body


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------


_CHROME_BAND = 40.0   # pt from either page edge: the header/footer zone
_CHROME_FRAC = 0.6    # repeat on >= this fraction of pages => boilerplate
_PAGE_NUM_RE = re.compile(
    r"^\s*(?:page\s+)?[0-9ivxlcdm]{1,6}(?:\s*(?:of|/)\s*\d+)?\s*$", re.I)
_DIGIT_RE = re.compile(r"\d+")


def _strip_page_chrome(pages: list[tuple[list, float]]
                       ) -> list[tuple[list, float]]:
    """Header/footer suppression on the raw-PDF path (the north-star
    boilerplate strip: y-band location + repeated-line suppression across
    pages). A run is chrome iff its baseline sits within _CHROME_BAND pt
    of the top or bottom page edge AND either (a) it is a bare page
    number ('3', 'iv', 'Page 7 of 12'), or (b) the doc has >= 2 pages and
    the run's digit-normalized text recurs in the band on >=
    _CHROME_FRAC of pages (running headers; digit folding matches
    'Chapter 2' with 'Chapter 3'). Body text never sits in the band in
    any sane layout, and the repetition test protects the odd figure
    caption that drifts there on one page."""
    n_pages = len(pages)

    def key(r, page_h: float) -> tuple[str, int]:
        # y-coordinate clustering: a running header recurs at a FIXED
        # offset from its page edge (quantized to 4pt; measured from the
        # NEAREST edge so mixed A4/Letter docs cluster), while body text
        # that merely overflows into the band lands at varying depths
        edge = r[1] if r[1] <= page_h / 2 else page_h - r[1]
        return (_DIGIT_RE.sub("#", r[4].strip().lower()), round(edge / 4))

    counts: dict[tuple[str, int], int] = {}
    for runs, page_h in pages:
        seen = set()
        for r in runs:
            if r[1] <= _CHROME_BAND or r[1] >= page_h - _CHROME_BAND:
                seen.add(key(r, page_h))
        for k in seen:
            counts[k] = counts.get(k, 0) + 1
    need = max(2, int(_CHROME_FRAC * n_pages + 0.999))

    def chrome(r, page_h: float) -> bool:
        if not (r[1] <= _CHROME_BAND or r[1] >= page_h - _CHROME_BAND):
            return False
        if _PAGE_NUM_RE.match(r[4]):
            return True
        return n_pages >= 2 and counts.get(key(r, page_h), 0) >= need

    return [([r for r in runs if not chrome(r, page_h)], page_h)
            for runs, page_h in pages]


def _staged_pages(pdf_bytes: bytes, password: bytes,
                  images: bool) -> list[tuple[list, float, list | None]]:
    """(runs, page_h, image rects) per page, page chrome stripped — the
    staging both public extractors share.

    Pages come from the real ``/Pages`` tree when the file indexes one;
    otherwise every content stream is treated as a page (truncated-file
    fallback, which never carries image geometry). Image rects are
    collected only when `images` is set, as Do-site geometry; their
    pixels are never decoded here."""
    staged: list[tuple[list, float]] = []
    rects: list[list | None] = []
    try:
        doc = _PdfDoc(pdf_bytes, password=password)
        for body, fonts, xobj_fn, _page_w, page_h in doc.pages():
            if body:
                page_rects = [] if images else None
                staged.append((_page_runs(body, fonts, xobj_fn,
                                          images=page_rects), page_h))
                rects.append(page_rects)
    except Exception:
        staged, rects = [], []
    if not staged:
        for body in _iter_raw_streams(pdf_bytes):
            runs = _page_runs(body, {})
            if runs:
                staged.append((runs, PAGE_H))
                rects.append([])
    return [(runs, page_h, r) for (runs, page_h), r
            in zip(_strip_page_chrome(staged), rects)]


def extract_pdf_text(pdf_bytes: bytes, password: bytes = b"") -> str:
    """Extract text from a PDF, reading-ordered within each page, with
    page chrome (running headers/footers, page numbers) suppressed by
    _strip_page_chrome.

    Pages come from the real ``/Pages`` tree when the file indexes one
    (reference pypdf path: per-page ``extract_text`` then join,
    parsers/pypdf/__main__.py:30-32); otherwise every content stream is
    treated as a page (truncated-file fallback). `password` unlocks
    password-protected files (the passwords side-table hook)."""
    pages = [_runs_to_text(runs, page_h)
             for runs, page_h, _ in _staged_pages(pdf_bytes, password,
                                                  images=False)]
    return "\n".join(p for p in pages if p)


def extract_pdf_spans(pdf_bytes: bytes, password: bytes = b"") -> list[dict]:
    """Ordered (kind, text, media_ref) spans from a PDF: the per-backend
    extraction contract (reference parse stage) recovered deterministically
    — prose runs become text spans, math-font runs become inline/display-
    formula spans, Image XObjects become image spans with the
    page_<x>_<y>_<w>_<h>.png figure ref (see _runs_to_spans), page by page
    in reading order."""
    out: list[dict] = []
    for runs, page_h, rects in _staged_pages(pdf_bytes, password,
                                             images=True):
        for kind, text, media_ref in _runs_to_spans(runs, page_h, rects):
            out.append({"kind": kind, "text": text, "media_ref": media_ref,
                        "offset": len(out)})
    return out
