"""PDF text extraction, dependency-free — round 12 (VERDICT r11
"What's missing" #2).

Why this belongs in the engine: PDF is the second-largest document
format in real crawls after HTML (q355); a "crawl → clean text"
pipeline without it drops every PDF byte. The container has no
pdfminer/pypdf, so — like the codec family — both directions are
implemented from the public spec (PDF 32000-1:2008, the ISO edition
Adobe publishes freely): a builder that writes spec-valid documents
and an extractor pinned on them plus hand-built corner cases.

Implemented from spec:
- Object lexer (§7.3): numbers, names with #xx escapes, literal
  strings with all escapes (\\n \\r \\t \\b \\f \\( \\) \\\\ , octal
  \\ddd, line continuations), hex strings, arrays, dictionaries,
  booleans, null, indirect references ``n g R``, streams with
  /Length resolution (direct or indirect).
- Classic cross-reference tables (§7.5.4): subsections, 20-byte
  entries, trailer, /Prev chains (incremental updates — later
  sections override earlier objects).
- Cross-reference streams (§7.5.8): /W field widths (including
  width-0 defaults), /Index subsections, type 0/1/2 entries, and
  object streams (§7.5.7 /ObjStm: N pairs header + /First offset).
- Stream filters (§7.4): FlateDecode as the RFC 1950 zlib wrapping
  of RFC 1951 deflate (multimodal/deflate.py zlib_unwrap; the
  payload inflates through stdlib zlib), with PNG predictors 10-15
  (§7.4.4.4, via the Paeth/Sub/Up/Average reconstruction PNG
  defines); ASCIIHexDecode; ASCII85Decode (z-shorthand, partial
  final group); RunLengthDecode; filter CHAINS in array order.
  Unsupported filters (LZW, DCT, JBIG2...) raise loudly.
- Content-stream text interpreter (§9.4): BT/ET, Tf, Td, TD, Tm,
  T*, TL, Tj, TJ (kerning arrays), ' and " (§9.4.3), decoding
  string bytes through the SELECTED FONT's encoding: WinAnsiEncoding
  (Annex D.2 — Windows code page 1252), StandardEncoding (Annex D.2
  table, transcribed below), and /Differences overrides resolved
  through a glyph-name table (Adobe Glyph List subset covering both
  base encodings).
- Page tree walk (§7.7.3): /Root → /Pages → /Kids recursion with
  inheritable /Resources, /Contents as stream or array of streams.

The md5 contract (q358, mirroring q355): with ``line_sep=""`` the
extractor returns EXACTLY the concatenation of every shown string in
content order — one swallowed escape, one mis-decoded WinAnsi byte,
one leaked operator anywhere breaks the closed-form hash the oracle
states. ``line_sep`` inserts separators at line-move operators
(Td/TD/T*/'/" and new pages) for human-shaped output.

Scale shape: per-document map over Arrow batches, no state, no
shuffle — the q355/q352 codec family shape; the PDF is the parallel
unit."""

from __future__ import annotations

import re
import struct

# --------------------------------------------------------- encodings
# Annex D.2: WinAnsiEncoding is Windows code page 1252; the stdlib
# cp1252 codec IS that table (undefined cells 0x81/0x8D/0x8F/0x90/0x9D
# raise, which is the loud behavior we want).
def _winansi_decode(b: int) -> str:
    return bytes([b]).decode("cp1252")


# Annex D.2 StandardEncoding: ASCII-agreeing printable range EXCEPT
# 0x27 (quoteright) and 0x60 (quoteleft); the 0xA1+ range transcribed
# from the spec table.
_STD_HIGH = {
    0x27: "’", 0x60: "‘",
    0xA1: "¡", 0xA2: "¢", 0xA3: "£", 0xA4: "⁄",
    0xA5: "¥", 0xA6: "ƒ", 0xA7: "§", 0xA8: "¤",
    0xA9: "'", 0xAA: "“", 0xAB: "«", 0xAC: "‹",
    0xAD: "›", 0xAE: "ﬁ", 0xAF: "ﬂ",
    0xB1: "–", 0xB2: "†", 0xB3: "‡", 0xB4: "·",
    0xB6: "¶", 0xB7: "•", 0xB8: "‚", 0xB9: "„",
    0xBA: "”", 0xBB: "»", 0xBC: "…", 0xBD: "‰",
    0xBF: "¿", 0xC1: "`", 0xC2: "´", 0xC3: "ˆ",
    0xC4: "˜", 0xC5: "¯", 0xC6: "˘", 0xC7: "˙",
    0xC8: "¨", 0xCA: "˚", 0xCB: "¸", 0xCD: "˝",
    0xCE: "˛", 0xCF: "ˇ", 0xD0: "—",
    0xE1: "Æ", 0xE3: "ª", 0xE8: "Ł", 0xE9: "Ø",
    0xEA: "Œ", 0xEB: "º", 0xF1: "æ", 0xF5: "ı",
    0xF8: "ł", 0xF9: "ø", 0xFA: "œ", 0xFB: "ß",
}


def _standard_decode(b: int) -> str:
    if b in _STD_HIGH:
        return _STD_HIGH[b]
    if 0x20 <= b <= 0x7E:
        return chr(b)
    raise ValueError(f"pdf: code {b} undefined in StandardEncoding")


# Glyph-name → unicode (AGL subset: every name either base encoding
# uses, so /Differences entries over them resolve).
_GLYPHS = {
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
    "braceright": "}", "asciitilde": "~", "quoteright": "’",
    "quoteleft": "‘", "quotedblleft": "“",
    "quotedblright": "”", "quotesinglbase": "‚",
    "quotedblbase": "„", "endash": "–", "emdash": "—",
    "bullet": "•", "dagger": "†", "daggerdbl": "‡",
    "ellipsis": "…", "perthousand": "‰", "fraction": "⁄",
    "florin": "ƒ", "fi": "ﬁ", "fl": "ﬂ",
    "guillemotleft": "«", "guillemotright": "»",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "exclamdown": "¡", "questiondown": "¿", "cent": "¢",
    "sterling": "£", "yen": "¥", "currency": "¤",
    "section": "§", "paragraph": "¶",
    "periodcentered": "·", "AE": "Æ", "ae": "æ",
    "OE": "Œ", "oe": "œ", "Oslash": "Ø",
    "oslash": "ø", "Lslash": "Ł", "lslash": "ł",
    "germandbls": "ß", "dotlessi": "ı",
    "ordfeminine": "ª", "ordmasculine": "º",
    "acute": "´", "circumflex": "ˆ", "tilde": "˜",
    "macron": "¯", "breve": "˘", "dotaccent": "˙",
    "dieresis": "¨", "ring": "˚", "cedilla": "¸",
    "hungarumlaut": "˝", "ogonek": "˛", "caron": "ˇ",
    "Euro": "€", "trademark": "™", "copyright": "©",
    "registered": "®", "degree": "°", "plusminus": "±",
    "mu": "µ", "nbspace": " ", "Scaron": "Š",
    "scaron": "š", "Zcaron": "Ž", "zcaron": "ž",
    "Yacute": "Ý", "yacute": "ý", "Thorn": "Þ",
    "thorn": "þ", "Eth": "Ð", "eth": "ð",
    "multiply": "×", "divide": "÷", "brokenbar": "¦",
    "logicalnot": "¬", "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "onesuperior": "¹",
    "twosuperior": "²", "threesuperior": "³",
}
# add the letters/digits by their own names
for _c in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
    _GLYPHS[_c] = _c


def make_decoder(base: str, differences: list | None = None):
    """Code→str decoder for a font: ``base`` is 'WinAnsiEncoding' or
    'StandardEncoding'; ``differences`` is the raw /Differences array
    (ints set the next code, names consume codes — §9.6.6.1)."""
    if base == "WinAnsiEncoding":
        table = {b: None for b in range(256)}
        dec = _winansi_decode
    elif base == "StandardEncoding":
        table = {b: None for b in range(256)}
        dec = _standard_decode
    else:
        raise ValueError(f"pdf: unsupported base encoding {base}")
    over = {}
    if differences:
        code = 0
        for item in differences:
            if isinstance(item, (int, float)):
                code = int(item)
            else:
                name = item.name if isinstance(item, Name) else str(item)
                if name not in _GLYPHS:
                    raise ValueError(f"pdf: glyph name /{name} not in AGL subset")
                over[code] = _GLYPHS[name]
                code += 1

    def decode(b: int) -> str:
        if b in over:
            return over[b]
        return dec(b)

    return decode


def inverse_encoder(base: str, differences: list | None = None) -> dict:
    """str→code map for the builder (the exact inverse of
    make_decoder over defined cells; /Differences shadow base cells
    both ways, so a char whose base code was stolen re-resolves to
    another code mapping to it or drops out of the font)."""
    decode = make_decoder(base, differences)
    diff_codes = set()
    if differences:
        code = 0
        for item in differences:
            if isinstance(item, (int, float)):
                code = int(item)
            else:
                diff_codes.add(code)
                code += 1
    inv: dict = {}
    for b in range(255, -1, -1):  # low codes win ties (ASCII preferred)
        try:
            ch = decode(b)
        except Exception:
            continue
        inv[ch] = b
    # re-assert differences (they always win for their target char)
    for b in sorted(diff_codes, reverse=True):
        inv[decode(b)] = b
    return inv


# ------------------------------------------------------------ lexer
class Name:
    """A /Name object (distinct from strings in dict keys/values)."""

    __slots__ = ("name",)

    def __init__(self, name: str):
        self.name = name

    def __eq__(self, other):
        return isinstance(other, Name) and other.name == self.name

    def __hash__(self):
        return hash(("Name", self.name))

    def __repr__(self):
        return f"/{self.name}"


class Ref:
    """An indirect reference ``n g R``."""

    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num, self.gen = num, gen

    def __eq__(self, other):
        return isinstance(other, Ref) and (other.num, other.gen) == (
            self.num, self.gen)

    def __hash__(self):
        return hash(("Ref", self.num, self.gen))

    def __repr__(self):
        return f"{self.num} {self.gen} R"


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    """PDF object tokenizer (§7.3) over bytes."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to EOL
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def _regular_run(self) -> bytes:
        start = self.pos
        d, n = self.data, len(self.data)
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        return d[start : self.pos]

    def next_token(self):
        """One lexical token: returns ('obj', value) for complete
        objects, ('kw', bytes) for keywords/operators, None at EOF."""
        self._skip_ws()
        d, n = self.data, len(self.data)
        if self.pos >= n:
            return None
        c = d[self.pos]
        if c == 0x2F:  # /Name
            self.pos += 1
            raw = self._regular_run()
            name = re.sub(
                rb"#([0-9A-Fa-f]{2})",
                lambda m: bytes([int(m.group(1), 16)]),
                raw,
            )
            return ("obj", Name(name.decode("latin-1")))
        if c == 0x28:  # ( literal string
            return ("obj", self._literal_string())
        if d.startswith(b"<<", self.pos):
            self.pos += 2
            return ("kw", b"<<")
        if c == 0x3C:  # < hex string
            return ("obj", self._hex_string())
        if d.startswith(b">>", self.pos):
            self.pos += 2
            return ("kw", b">>")
        if c in b"[]":
            self.pos += 1
            return ("kw", bytes([c]))
        if c in b"+-." or 0x30 <= c <= 0x39:
            raw = self._regular_run()
            try:
                if b"." in raw or b"e" in raw or b"E" in raw:
                    return ("obj", float(raw))
                return ("obj", int(raw))
            except ValueError as exc:
                raise ValueError(f"pdf: bad number {raw!r}") from exc
        kw = self._regular_run()
        if not kw:
            raise ValueError(f"pdf: stray delimiter {bytes([c])!r} at {self.pos}")
        return ("kw", kw)

    def _literal_string(self) -> bytes:
        d, n = self.data, len(self.data)
        assert d[self.pos] == 0x28
        self.pos += 1
        out = bytearray()
        depth = 1
        esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12,
               0x28: 40, 0x29: 41, 0x5C: 92}
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                e = d[self.pos]
                if e in esc:
                    out.append(esc[e])
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # \ddd octal, up to 3 digits
                    v = 0
                    k = 0
                    while k < 3 and self.pos < n and 0x30 <= d[self.pos] <= 0x37:
                        v = v * 8 + (d[self.pos] - 0x30)
                        self.pos += 1
                        k += 1
                    out.append(v & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:  # unknown escape: backslash dropped (§7.3.4.2)
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            elif c == 0x0D:  # EOL normalization inside strings
                out.append(0x0A)
                self.pos += 1
                if self.pos < n and d[self.pos] == 0x0A:
                    self.pos += 1
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("pdf: unterminated literal string")

    def _hex_string(self) -> bytes:
        d, n = self.data, len(self.data)
        assert d[self.pos] == 0x3C
        self.pos += 1
        digits = []
        while self.pos < n:
            c = d[self.pos]
            self.pos += 1
            if c == 0x3E:
                if len(digits) % 2:
                    digits.append(0x30)  # odd count: implied trailing 0
                return bytes(
                    int(chr(digits[i]) + chr(digits[i + 1]), 16)
                    for i in range(0, len(digits), 2)
                )
            if c in _WS:
                continue
            if not ((0x30 <= c <= 0x39) or (0x41 <= c <= 0x46)
                    or (0x61 <= c <= 0x66)):
                raise ValueError(f"pdf: bad hex digit {bytes([c])!r}")
            digits.append(c)
        raise ValueError("pdf: unterminated hex string")


def _parse_object(lex: _Lexer):
    """Parse one complete object (composing arrays/dicts/references);
    keywords true/false/null resolve, other keywords return as
    ('kw', bytes) for the content interpreter."""
    tok = lex.next_token()
    if tok is None:
        return None
    kind, val = tok
    if kind == "obj":
        if isinstance(val, int):
            # lookahead for "gen R" reference form
            save = lex.pos
            t2 = lex.next_token()
            if t2 and t2[0] == "obj" and isinstance(t2[1], int):
                t3 = lex.next_token()
                if t3 == ("kw", b"R"):
                    return Ref(val, t2[1])
            lex.pos = save  # plain int; rewind the lookahead
            return val
        return val
    if val == b"<<":
        d = {}
        while True:
            save = lex.pos
            t = lex.next_token()
            if t == ("kw", b">>"):
                return d
            lex.pos = save
            key = _parse_object(lex)
            if not isinstance(key, Name):
                raise ValueError(f"pdf: dict key is not a name: {key!r}")
            d[key.name] = _parse_object(lex)
    if val == b"[":
        arr = []
        while True:
            save = lex.pos
            t = lex.next_token()
            if t == ("kw", b"]"):
                return arr
            lex.pos = save
            arr.append(_parse_object(lex))
    if val == b"true":
        return True
    if val == b"false":
        return False
    if val == b"null":
        return None
    return ("kw", val)


# ---------------------------------------------------------- filters
def _flate_decode(data: bytes) -> bytes:
    """FlateDecode = RFC 1950 zlib wrapping of RFC 1951 deflate — the
    shared deflate.zlib_unwrap (one implementation with seqfile's
    DefaultCodec path), re-raised with the pdf context."""
    from etl_everywhere_hub_spark.multimodal.deflate import zlib_unwrap

    try:
        return zlib_unwrap(data)
    except ValueError as exc:
        raise ValueError(f"pdf: {exc}") from exc


def _flate_encode(data: bytes) -> bytes:
    from etl_everywhere_hub_spark.multimodal.deflate import zlib_wrap

    return zlib_wrap(data)


def _ahx_decode(data: bytes) -> bytes:
    digits = []
    for c in data:
        if c == 0x3E:
            break
        if c in _WS:
            continue
        digits.append(chr(c))
    else:
        raise ValueError("pdf: ASCIIHexDecode missing EOD '>'")
    if len(digits) % 2:
        digits.append("0")
    return bytes(int(digits[i] + digits[i + 1], 16)
                 for i in range(0, len(digits), 2))


def _a85_decode(data: bytes) -> bytes:
    out = bytearray()
    group = []
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        if data.startswith(b"~>", i):
            break
        i += 1
        if c in _WS:
            continue
        if c == 0x7A:  # z = four zero bytes, only legal between groups
            if group:
                raise ValueError("pdf: 'z' inside ASCII85 group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:
            raise ValueError(f"pdf: bad ASCII85 char {bytes([c])!r}")
        group.append(c - 0x21)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            out += v.to_bytes(4, "big")
            group = []
    else:
        raise ValueError("pdf: ASCII85Decode missing EOD '~>'")
    if group:
        if len(group) == 1:
            raise ValueError("pdf: 1-char final ASCII85 group")
        k = len(group)
        v = 0
        for g in group + [84] * (5 - k):
            v = v * 85 + g
        out += v.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _a85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i : i + 4]
        k = len(chunk)
        v = int.from_bytes(chunk + b"\x00" * (4 - k), "big")
        digits = []
        for _ in range(5):
            digits.append(v % 85)
            v //= 85
        enc = bytes(d + 0x21 for d in reversed(digits))
        out += enc if k == 4 else enc[: k + 1]
    return bytes(out) + b"~>"


def _rl_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        ln = data[i]
        i += 1
        if ln == 128:
            return bytes(out)
        if ln < 128:
            out += data[i : i + ln + 1]
            i += ln + 1
        else:
            out += bytes([data[i]]) * (257 - ln)
            i += 1
    raise ValueError("pdf: RunLengthDecode missing EOD 128")


def _rl_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        run = 1
        while i + run < len(data) and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i + 1
            while (j < len(data) and j - i < 128
                   and not (j + 1 < len(data) and data[j + 1] == data[j])):
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    out.append(128)
    return bytes(out)


def _png_unpredict(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    """PNG predictor reconstruction (§7.4.4.4 delegates to the PNG
    spec): per-row filter byte then Sub/Up/Average/Paeth."""
    bpp = max(1, (colors * bpc) >> 3)
    row_len = (columns * colors * bpc + 7) >> 3
    out = bytearray()
    prev = bytes(row_len)
    i = 0
    while i < len(data):
        ft = data[i]
        i += 1
        row = bytearray(data[i : i + row_len])
        if len(row) != row_len:
            raise ValueError("pdf: truncated predictor row")
        i += row_len
        if ft == 1:  # Sub
            for x in range(bpp, row_len):
                row[x] = (row[x] + row[x - bpp]) & 0xFF
        elif ft == 2:  # Up
            for x in range(row_len):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(row_len):
                a = row[x - bpp] if x >= bpp else 0
                row[x] = (row[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(row_len):
                a = row[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[x] = (row[x] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"pdf: unknown PNG filter type {ft}")
        out += row
        prev = bytes(row)
    return bytes(out)


def _lzw_decode(data: bytes, early_change: bool = True) -> bytes:
    """LZWDecode (§7.4.4) IS the TIFF 6.0 LZW variant — reuse the
    from-spec core in multimodal/tiff.py (MSB-first, 9-bit start,
    CLEAR=256/EOI=257, early-change width bumps; EarlyChange=0
    defers the bump by one code)."""
    from etl_everywhere_hub_spark.multimodal.tiff import lzw_decode_tiff

    return lzw_decode_tiff(data, None, early_change=early_change)


def _lzw_encode(data: bytes) -> bytes:
    from etl_everywhere_hub_spark.multimodal.tiff import lzw_encode_tiff

    return lzw_encode_tiff(data)


_FILTERS = {
    "FlateDecode": _flate_decode,
    "ASCIIHexDecode": _ahx_decode,
    "ASCII85Decode": _a85_decode,
    "RunLengthDecode": _rl_decode,
    "LZWDecode": _lzw_decode,
}


def _apply_filters(raw: bytes, sdict: dict, doc) -> bytes:
    filt = doc.resolve(sdict.get("Filter"))
    if filt is None:
        return raw
    filters = filt if isinstance(filt, list) else [filt]
    parms = doc.resolve(sdict.get("DecodeParms"))
    if parms is None:
        parms = [None] * len(filters)
    elif not isinstance(parms, list):
        parms = [parms]
    data = raw
    for f, pm in zip(filters, parms + [None] * (len(filters) - len(parms))):
        name = f.name if isinstance(f, Name) else str(f)
        if name not in _FILTERS:
            raise ValueError(f"pdf: unsupported filter /{name}")
        pm = doc.resolve(pm)
        if name == "LZWDecode":
            ec = doc.resolve((pm or {}).get("EarlyChange", 1))
            data = _lzw_decode(data, early_change=ec != 0)
        else:
            data = _FILTERS[name](data)
        if pm:
            pred = doc.resolve(pm.get("Predictor", 1))
            if pred and pred >= 10:
                data = _png_unpredict(
                    data,
                    doc.resolve(pm.get("Colors", 1)),
                    doc.resolve(pm.get("BitsPerComponent", 8)),
                    doc.resolve(pm.get("Columns", 1)),
                )
            elif pred not in (None, 1):
                raise ValueError(f"pdf: unsupported predictor {pred}")
    return data


class Stream:
    """A stream object: dict + raw (still-encoded) bytes."""

    __slots__ = ("sdict", "raw")

    def __init__(self, sdict: dict, raw: bytes):
        self.sdict, self.raw = sdict, raw

    def data(self, doc) -> bytes:
        return _apply_filters(self.raw, self.sdict, doc)


# ----------------------------------------------------- document
class PdfDocument:
    """Parsed PDF: xref map (classic tables and xref streams, /Prev
    chains, object streams), object cache, trailer."""

    def __init__(self, data: bytes):
        self.data = data
        self.xref: dict = {}       # num -> ("ofs", offset) | ("objstm", stm_num, idx)
        self.trailer: dict = {}
        self._cache: dict = {}
        if not data.startswith(b"%PDF-"):
            raise ValueError("pdf: missing %PDF- header")
        tail = data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError("pdf: startxref not found")
        self._load_xref(int(m.group(1)), set())
        if "Root" not in self.trailer:
            raise ValueError("pdf: trailer has no /Root")

    # -------------------------------------------------- xref loading
    def _load_xref(self, offset: int, seen: set) -> None:
        if offset in seen:
            raise ValueError("pdf: circular /Prev chain")
        seen.add(offset)
        lex = _Lexer(self.data, offset)
        save = lex.pos
        tok = lex.next_token()
        if tok == ("kw", b"xref"):
            self._load_classic_xref(lex, seen)
            return
        lex.pos = save
        self._load_xref_stream(lex, seen)

    def _load_classic_xref(self, lex: _Lexer, seen: set) -> None:
        entries: dict = {}
        while True:
            save = lex.pos
            tok = lex.next_token()
            if tok == ("kw", b"trailer"):
                break
            lex.pos = save
            start = _parse_object(lex)
            count = _parse_object(lex)
            if not isinstance(start, int) or not isinstance(count, int):
                raise ValueError("pdf: bad xref subsection header")
            lex._skip_ws()
            for k in range(count):
                row = self.data[lex.pos : lex.pos + 20]
                ofs, gen, kind = int(row[0:10]), int(row[11:16]), row[17:18]
                if kind == b"n":
                    entries[start + k] = ("ofs", ofs)
                elif kind == b"f":
                    entries[start + k] = ("free",)
                else:
                    raise ValueError(f"pdf: bad xref entry kind {kind!r}")
                lex.pos += 20
        trailer = _parse_object(lex)
        if not isinstance(trailer, dict):
            raise ValueError("pdf: trailer is not a dictionary")
        # later (outer) sections already loaded win; earlier fill gaps
        for num, e in entries.items():
            self.xref.setdefault(num, e)
        for k, v in trailer.items():
            self.trailer.setdefault(k, v)
        if "Prev" in trailer:
            self._load_xref(int(trailer["Prev"]), seen)
        if "XRefStm" in trailer:  # hybrid-reference file (§7.5.8.4)
            self._load_xref(int(trailer["XRefStm"]), seen)

    def _load_xref_stream(self, lex: _Lexer, seen: set) -> None:
        num = _parse_object(lex)
        gen = _parse_object(lex)
        kw = lex.next_token()
        if not isinstance(num, int) or not isinstance(gen, int) or kw != (
            "kw", b"obj",
        ):
            raise ValueError("pdf: xref offset points at no object")
        obj = self._read_object_body(lex)
        if not isinstance(obj, Stream) or obj.sdict.get("Type") != Name("XRef"):
            raise ValueError("pdf: xref stream missing /Type /XRef")
        sd = obj.sdict
        w = [int(x) for x in sd["W"]]
        size = int(sd["Size"])
        index = sd.get("Index", [0, size])
        index = [int(x) for x in index]
        body = obj.data(self)
        rw = sum(w)
        pos = 0
        for si in range(0, len(index), 2):
            start, count = index[si], index[si + 1]
            for k in range(count):
                row = body[pos : pos + rw]
                pos += rw
                vals = []
                o = 0
                for width in w:
                    if width == 0:
                        # width-0 defaults: type=1, others 0 (§7.5.8.3)
                        vals.append(None)
                    else:
                        vals.append(int.from_bytes(row[o : o + width], "big"))
                        o += width
                t = 1 if vals[0] is None else vals[0]
                f2 = vals[1] or 0
                f3 = vals[2] or 0
                numk = start + k
                if t == 1:
                    self.xref.setdefault(numk, ("ofs", f2))
                elif t == 2:
                    self.xref.setdefault(numk, ("objstm", f2, f3))
                elif t == 0:
                    self.xref.setdefault(numk, ("free",))
                else:
                    raise ValueError(f"pdf: xref stream entry type {t}")
        for k, v in sd.items():
            if k not in ("Type", "W", "Index", "Length", "Filter", "DecodeParms"):
                self.trailer.setdefault(k, v)
        if "Prev" in sd:
            self._load_xref(int(sd["Prev"]), seen)

    # ------------------------------------------------ object loading
    def _read_object_body(self, lex: _Lexer):
        obj = _parse_object(lex)
        save = lex.pos
        tok = lex.next_token()
        if tok == ("kw", b"stream"):
            if not isinstance(obj, dict):
                raise ValueError("pdf: stream keyword after non-dict")
            # EOL after 'stream': CRLF or LF (§7.3.8.1)
            p = lex.pos
            if self.data[p : p + 2] == b"\r\n":
                p += 2
            elif self.data[p : p + 1] == b"\n":
                p += 1
            ln = self.resolve(obj.get("Length"))
            if not isinstance(ln, int):
                raise ValueError("pdf: stream /Length missing or non-integer")
            raw = self.data[p : p + ln]
            lex.pos = p + ln
            tok2 = lex.next_token()
            if tok2 != ("kw", b"endstream"):
                raise ValueError("pdf: endstream not found where /Length said")
            return Stream(obj, raw)
        lex.pos = save
        return obj

    def get_object(self, num: int, gen: int = 0):
        if num in self._cache:
            return self._cache[num]
        entry = self.xref.get(num)
        if entry is None or entry[0] == "free":
            return None  # a reference to a free object is null (§7.3.10)
        if entry[0] == "ofs":
            lex = _Lexer(self.data, entry[1])
            onum = _parse_object(lex)
            _ogen = _parse_object(lex)
            kw = lex.next_token()
            if onum != num or kw != ("kw", b"obj"):
                raise ValueError(f"pdf: object {num} not at xref offset")
            obj = self._read_object_body(lex)
        else:  # object stream
            _tag, stm_num, idx = entry
            stm = self.get_object(stm_num)
            if not isinstance(stm, Stream) or stm.sdict.get("Type") != Name(
                "ObjStm"
            ):
                raise ValueError("pdf: type-2 entry points outside an ObjStm")
            body = stm.data(self)
            n_objs = int(self.resolve(stm.sdict["N"]))
            first = int(self.resolve(stm.sdict["First"]))
            hlex = _Lexer(body, 0)
            pairs = []
            for _ in range(n_objs):
                pairs.append((_parse_object(hlex), _parse_object(hlex)))
            if idx >= n_objs:
                raise ValueError("pdf: ObjStm index out of range")
            onum, rel = pairs[idx]
            if onum != num:
                raise ValueError("pdf: ObjStm pair table disagrees with xref")
            olex = _Lexer(body, first + rel)
            obj = _parse_object(olex)
        self._cache[num] = obj
        return obj

    def resolve(self, obj):
        """Follow indirect references to the actual object."""
        while isinstance(obj, Ref):
            obj = self.get_object(obj.num, obj.gen)
        return obj

    # --------------------------------------------------- page walk
    def pages(self) -> list:
        """Flattened page list with /Resources inheritance."""
        root = self.resolve(self.trailer["Root"])
        tree = self.resolve(root["Pages"])
        out: list = []

        def walk(node, inherited_res):
            node = self.resolve(node)
            res = self.resolve(node.get("Resources")) or inherited_res
            t = node.get("Type")
            if t == Name("Pages"):
                for kid in self.resolve(node["Kids"]):
                    walk(kid, res)
            elif t == Name("Page"):
                out.append({"page": node, "resources": res or {}})
            else:
                raise ValueError(f"pdf: page-tree node of type {t!r}")

        walk(tree, None)
        return out

    def page_content(self, page: dict) -> bytes:
        c = self.resolve(page["page"].get("Contents"))
        if c is None:
            return b""
        parts = c if isinstance(c, list) else [c]
        datas = []
        for p in parts:
            s = self.resolve(p)
            if not isinstance(s, Stream):
                raise ValueError("pdf: /Contents entry is not a stream")
            datas.append(s.data(self))
        # streams in an array are one content stream split at token
        # boundaries (§7.8.2): joined with whitespace
        return b"\n".join(datas)


# ------------------------------------------------ text interpretation
def parse_tounicode(cmap: bytes) -> dict:
    """Parse a /ToUnicode CMap (§9.10.3) into {code int → str}:
    bfchar pairs, bfrange with incrementing-destination hex strings
    (the integer value of the destination advances with the range —
    the convention every mainstream extractor implements), and
    bfrange with explicit destination ARRAYS. Destinations are
    UTF-16BE. codespacerange sections are skipped (Identity-H fixes
    the code width at 2 bytes)."""
    lex = _Lexer(cmap, 0)
    out: dict = {}

    def _u(b: bytes) -> str:
        return b.decode("utf-16-be")

    while True:
        tok = lex.next_token()
        if tok is None:
            return out
        if tok == ("kw", b"beginbfchar"):
            while True:
                save = lex.pos
                t = lex.next_token()
                if t == ("kw", b"endbfchar"):
                    break
                lex.pos = save
                src = _parse_object(lex)
                dst = _parse_object(lex)
                if not isinstance(src, bytes) or not isinstance(dst, bytes):
                    raise ValueError("pdf: bfchar operands must be strings")
                out[int.from_bytes(src, "big")] = _u(dst)
        elif tok == ("kw", b"beginbfrange"):
            while True:
                save = lex.pos
                t = lex.next_token()
                if t == ("kw", b"endbfrange"):
                    break
                lex.pos = save
                lo = _parse_object(lex)
                hi = _parse_object(lex)
                dst = _parse_object(lex)
                lo_i = int.from_bytes(lo, "big")
                hi_i = int.from_bytes(hi, "big")
                if isinstance(dst, list):
                    if len(dst) != hi_i - lo_i + 1:
                        raise ValueError("pdf: bfrange array length mismatch")
                    for k, d in enumerate(dst):
                        out[lo_i + k] = _u(d)
                else:
                    base = int.from_bytes(dst, "big")
                    for k in range(hi_i - lo_i + 1):
                        out[lo_i + k] = _u(
                            (base + k).to_bytes(len(dst), "big")
                        )
        # every other token (codespacerange contents, CIDInit
        # boilerplate, numbers) is ignored


def _font_decoder(doc: PdfDocument, font_obj):
    """String decoder for a font dict: returns fn(bytes) -> str.
    Simple fonts decode per byte through their encoding; /Type0
    composite fonts require /Encoding /Identity-H (2-byte codes) and
    a /ToUnicode CMap — the shape real-crawl PDFs with embedded
    TrueType subsets actually use."""
    fo = doc.resolve(font_obj)
    if fo.get("Subtype") == Name("Type0"):
        enc = doc.resolve(fo.get("Encoding"))
        if enc != Name("Identity-H"):
            raise ValueError(
                f"pdf: Type0 font with unsupported /Encoding {enc!r} "
                "(only Identity-H)"
            )
        tu = doc.resolve(fo.get("ToUnicode"))
        if not isinstance(tu, Stream):
            raise ValueError(
                "pdf: Type0 font without a /ToUnicode CMap — text is "
                "unrecoverable without the font program"
            )
        cmap = parse_tounicode(tu.data(doc))

        def decode_cid(s: bytes) -> str:
            if len(s) % 2:
                raise ValueError("pdf: odd-length Identity-H string")
            parts = []
            for i in range(0, len(s), 2):
                code = (s[i] << 8) | s[i + 1]
                if code not in cmap:
                    raise ValueError(
                        f"pdf: CID {code:#06x} not in ToUnicode CMap"
                    )
                parts.append(cmap[code])
            return "".join(parts)

        return decode_cid
    enc = doc.resolve(fo.get("Encoding"))
    if enc is None:
        per_byte = make_decoder("StandardEncoding")
    elif isinstance(enc, Name):
        per_byte = make_decoder(enc.name)
    else:
        base = doc.resolve(enc.get("BaseEncoding"))
        base_name = base.name if isinstance(base, Name) else "StandardEncoding"
        per_byte = make_decoder(base_name, doc.resolve(enc.get("Differences")))
    return lambda s: "".join(per_byte(b) for b in s)


def _interpret_text(content: bytes, fonts: dict, line_sep: str) -> str:
    """Run the §9.4 text operators over one page's content stream,
    returning shown text. With line_sep == '': EXACT concatenation of
    shown strings (the md5 contract); otherwise line-move operators
    (Td/TD/T*/Tm/'/\") insert the separator."""
    lex = _Lexer(content, 0)
    stack: list = []
    cur = None
    out: list = []

    def sep():
        if line_sep and out and out[-1] != line_sep:
            out.append(line_sep)

    def show(s):
        if not isinstance(s, bytes):
            raise ValueError("pdf: show operand is not a string")
        if cur is None:
            raise ValueError("pdf: show operator before Tf")
        out.append(cur(s))

    while True:
        save = lex.pos
        tok = lex.next_token()
        if tok is None:
            break
        lex.pos = save
        obj = _parse_object(lex)
        if not (isinstance(obj, tuple) and obj and obj[0] == "kw"):
            stack.append(obj)
            continue
        op = obj[1]
        if op == b"Tf":
            fname = stack[-2]
            if not isinstance(fname, Name) or fname.name not in fonts:
                raise ValueError(f"pdf: Tf names unknown font {fname!r}")
            cur = fonts[fname.name]
        elif op == b"Tj":
            show(stack[-1])
        elif op == b"TJ":
            arr = stack[-1]
            if not isinstance(arr, list):
                raise ValueError("pdf: TJ operand is not an array")
            for item in arr:
                if isinstance(item, bytes):
                    show(item)
                elif not isinstance(item, (int, float)):
                    raise ValueError("pdf: TJ element neither string nor number")
        elif op == b"'":
            sep()
            show(stack[-1])
        elif op == b'"':
            sep()
            show(stack[-1])
        elif op in (b"Td", b"TD", b"T*", b"Tm"):
            sep()
        elif op == b"BI":
            raise ValueError("pdf: inline images unsupported")
        # every other operator (graphics state, paths, color, BT/ET,
        # TL/Tc/Tw/Tz/Ts/Tr) contributes no text
        stack.clear()
    return "".join(out)


def extract_pdf_text(data: bytes, line_sep: str = "") -> str:
    """Extract shown text from every page in document order. The
    ``line_sep=''`` default is the exact-concatenation md5 contract
    (q358); pass '\\n' for human-shaped output."""
    doc = PdfDocument(data)
    pages_text = []
    for page in doc.pages():
        fdict = doc.resolve(page["resources"].get("Font")) or {}
        fonts = {name: _font_decoder(doc, fo) for name, fo in fdict.items()}
        content = doc.page_content(page)
        pages_text.append(_interpret_text(content, fonts, line_sep))
    return line_sep.join(pages_text)


def pdf_info(data: bytes) -> dict:
    """Structural metadata for relational accounting: page count,
    object count, xref kind, per-page content filters."""
    doc = PdfDocument(data)
    pages = doc.pages()
    filters = []
    for p in pages:
        c = doc.resolve(p["page"].get("Contents"))
        first = (c[0] if isinstance(c, list) else c)
        s = doc.resolve(first)
        f = doc.resolve(s.sdict.get("Filter")) if isinstance(s, Stream) else None
        if f is None:
            filters.append("plain")
        elif isinstance(f, list):
            filters.append("+".join(x.name for x in f))
        else:
            filters.append(f.name)
    kinds = {e[0] for e in doc.xref.values()}
    return {
        "n_pages": len(pages),
        "n_objects": len([e for e in doc.xref.values() if e[0] != "free"]),
        "has_objstm": "objstm" in kinds,
        "filters": filters,
    }


# ----------------------------------------------------------- builder
def _ser(obj) -> bytes:
    """Serialize a python object graph to PDF syntax."""
    if isinstance(obj, Name):
        out = []
        for ch in obj.name.encode("latin-1"):
            if ch in _WS or ch in _DELIM or ch == 0x23 or not 0x21 <= ch <= 0x7E:
                out.append(b"#%02X" % ch)
            else:
                out.append(bytes([ch]))
        return b"/" + b"".join(out)
    if isinstance(obj, Ref):
        return b"%d %d R" % (obj.num, obj.gen)
    if isinstance(obj, bool):
        return b"true" if obj else b"false"
    if obj is None:
        return b"null"
    if isinstance(obj, int):
        return b"%d" % obj
    if isinstance(obj, float):
        return (f"{obj:.4f}").rstrip("0").rstrip(".").encode()
    if isinstance(obj, bytes):
        return _lit_string(obj, 0, 0)
    if isinstance(obj, list):
        return b"[" + b" ".join(_ser(x) for x in obj) + b"]"
    if isinstance(obj, dict):
        return (b"<<" + b" ".join(
            _ser(Name(k)) + b" " + _ser(v) for k, v in obj.items()
        ) + b">>")
    raise TypeError(f"pdf: cannot serialize {type(obj)}")


def _lit_string(codes: bytes, aggressive_every: int, salt: int) -> bytes:
    """Literal string with mandatory escapes; every Nth byte written
    as an octal escape (cycling 1-3 digit forms) — the gauntlet that
    pins the escape decoder."""
    out = bytearray(b"(")
    for i, b in enumerate(codes):
        forced = aggressive_every and (i + salt) % aggressive_every == 0
        if b in (0x28, 0x29, 0x5C):
            out += b"\\" + bytes([b])
        elif b == 0x0A:
            out += b"\\n"
        elif b == 0x0D:
            out += b"\\r"
        elif forced or not 0x20 <= b <= 0x7E:
            form = (i + salt) % 3
            if form == 0:
                out += b"\\%03o" % b
            elif form == 1 and b < 0o100:
                out += b"\\%02o" % b
                # 2-digit octal is only unambiguous when the NEXT char
                # is not an octal digit; force 3-digit if it is
                nxt = codes[i + 1] if i + 1 < len(codes) else None
                if nxt is not None and 0x30 <= nxt <= 0x37:
                    out = out[: -2] + b"%03o" % b
            else:
                out += b"\\%03o" % b
        else:
            out.append(b)
    out += b")"
    return bytes(out)


def _hex_string(codes: bytes) -> bytes:
    return b"<" + codes.hex().upper().encode() + b">"


_FONT_SPECS = [
    ("F1", "WinAnsiEncoding", None),
    ("F2", "StandardEncoding", None),
    ("F3", "WinAnsiEncoding",
     [1, Name("e"), Name("t"), Name("a"), Name("o")]),
    ("F4", "Type0", None),  # Identity-H + ToUnicode (2-byte codes)
]


def build_tounicode(charset: set) -> tuple:
    """(inverse ch→2-byte code, CMap stream bytes) for a Type0 font
    covering ``charset`` — deliberately exercising all three CMap
    constructs: one incrementing bfrange (a-z at 0xE000+), one
    ARRAY-destination bfrange (three chars at 0xE100+), and chunked
    bfchar sections (<=100 pairs each, the spec bound) for the rest."""
    inv: dict = {}
    lower = [c for c in "abcdefghijklmnopqrstuvwxyz"]
    for k, c in enumerate(lower):
        inv[c] = 0xE000 + k
    rest = sorted(c for c in charset if c not in inv)
    arr = rest[:3]
    for k, c in enumerate(arr):
        inv[c] = 0xE100 + k
    chars = rest[3:]
    for k, c in enumerate(chars):
        inv[c] = 0xE200 + k
        if 0xE200 + k > 0xFFFF:
            raise ValueError("pdf: Type0 charset exceeds the code space")
    lines = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin",
        "begincmap",
        "/CMapName /EEH-UCS2 def",
        "/CMapType 2 def",
        "1 begincodespacerange",
        "<0000> <FFFF>",
        "endcodespacerange",
        "1 beginbfrange",
        "<E000> <E019> <0061>",
        "endbfrange",
    ]
    if arr:
        dsts = " ".join(
            "<" + c.encode("utf-16-be").hex().upper() + ">" for c in arr
        )
        lines += [
            "1 beginbfrange",
            f"<E100> <{0xE100 + len(arr) - 1:04X}> [{dsts}]",
            "endbfrange",
        ]
    for i in range(0, len(chars), 100):
        chunk = chars[i : i + 100]
        lines.append(f"{len(chunk)} beginbfchar")
        for k, c in enumerate(chunk):
            code = 0xE200 + i + k
            lines.append(
                f"<{code:04X}> <{c.encode('utf-16-be').hex().upper()}>"
            )
        lines.append("endbfchar")
    lines += ["endcmap", "CMapName currentdict /CMap defineresource pop",
              "end", "end"]
    return inv, "\n".join(lines).encode("latin-1")


def _font_object(base: str, diffs) -> dict:
    enc: object = Name(base)
    if diffs is not None:
        enc = {"BaseEncoding": Name(base), "Differences": diffs}
    return {
        "Type": Name("Font"),
        "Subtype": Name("Type1"),
        "BaseFont": Name("Helvetica"),
        "Encoding": enc,
    }


def _page_stream(text: str, gi: int, op_salt: int, aggressive_every: int,
                 invs: list) -> bytes:
    """One page's content: the text split into 1-4 pieces, each shown
    through a cycling (font, operator, string-form) triple. ``invs``
    entries are (ch→code map, code byte width) — width 2 for the
    Type0/Identity-H font."""
    m = 1 + (len(text) + gi) % 4
    L = len(text)
    pieces = [text[i * L // m : (i + 1) * L // m] for i in range(m)]
    out = bytearray(b"BT\n1 0 0 1 72 720 Tm\n14 TL\n")
    for i, piece in enumerate(pieces):
        f_ix = (i + gi + op_salt) % len(invs)
        fname, (inv, cw) = _FONT_SPECS[f_ix][0], invs[f_ix]
        out += b"/%s 12 Tf\n" % fname.encode()
        try:
            codes = b"".join(inv[ch].to_bytes(cw, "big") for ch in piece)
        except KeyError as exc:
            raise ValueError(
                f"pdf: char {exc} not encodable in {_FONT_SPECS[f_ix][1]}"
            ) from exc
        use_hex = (i + op_salt) % 5 == 2
        h = (len(codes) // 2 // cw) * cw  # cut on a code boundary
        if use_hex:
            s1, s2 = _hex_string(codes[:h]), _hex_string(codes[h:])
        else:
            s1 = _lit_string(codes[:h], aggressive_every, gi + i)
            s2 = _lit_string(codes[h:], aggressive_every, gi + i + 1)
        op_ix = (i + op_salt) % 4
        if op_ix == 0:
            out += s1 + b" Tj\n" + s2 + b" Tj\n"
        elif op_ix == 1:
            out += b"[" + s1 + b" -250 " + s2 + b" 120]TJ\n"
        elif op_ix == 2:
            out += s1 + b" '\n" + s2 + b" Tj\n"
        else:
            out += b"2 1 " + s1 + b' "\n' + s2 + b" Tj\n"
        out += b"0 -14 Td\n" if i % 2 == 0 else b"T*\n"
    out += b"ET\nq 1 0 0 1 0 0 cm Q\n0 0 100 100 re S\n"
    return bytes(out)


_FILTER_BUILD = {
    "plain": (None, lambda d: d),
    "flate": (Name("FlateDecode"), _flate_encode),
    "ahx": (Name("ASCIIHexDecode"), lambda d: _ahx_encode(d)),
    "a85": (Name("ASCII85Decode"), _a85_encode),
    "rl": (Name("RunLengthDecode"), _rl_encode),
    "lzw": (Name("LZWDecode"), lambda d: _lzw_encode(d)),
    "chain": ([Name("ASCII85Decode"), Name("FlateDecode")],
              lambda d: _a85_encode(_flate_encode(d))),
    "lzwchain": ([Name("ASCIIHexDecode"), Name("LZWDecode")],
                 lambda d: _ahx_encode(_lzw_encode(d))),
}


def _ahx_encode(data: bytes) -> bytes:
    return data.hex().upper().encode() + b">"


def _stream_obj(content: bytes, fmode: str, extra: dict | None = None) -> bytes:
    fname, enc = _FILTER_BUILD[fmode]
    raw = enc(content)
    d = {"Length": len(raw)}
    if fname is not None:
        d["Filter"] = fname
    if extra:
        d.update(extra)
    return _ser(d) + b"\nstream\n" + raw + b"\nendstream"


def build_pdf(
    paragraphs: list,
    xref_mode: str = "classic",
    filter_cycle: tuple = ("flate", "plain", "ahx", "a85", "rl", "chain",
                           "lzw", "lzwchain"),
    op_salt: int = 0,
    aggressive_every: int = 0,
) -> bytes:
    """Spec-valid PDF whose extracted text (line_sep='') is EXACTLY
    ''.join(paragraphs): one page per paragraph, cycling content
    filters, fonts (WinAnsi / Standard / WinAnsi+Differences /
    Type0-Identity-H-with-ToUnicode), operators (Tj / TJ / ' / \")
    and string forms (literal+octal / hex — Type0 pieces carry
    2-byte codes). ``xref_mode``: 'classic' table, 'stream' (xref
    stream + object streams + PNG Up predictor), or 'update'
    (incremental update overriding page 0's content — base holds
    decoy text the extractor must NOT see)."""
    decoy_text = "DECOY TEXT MUST NOT SURFACE"
    charset = set("".join(paragraphs)) | set(decoy_text)
    inv4, cmap = build_tounicode(charset)
    invs = [
        (inverse_encoder(b, d), 1) for _n, b, d in _FONT_SPECS[:3]
    ] + [(inv4, 2)]
    n = len(paragraphs)
    # object numbers: 1 Catalog, 2 Pages, 3..2+n Page, 3+n..2+2n
    # Content, 3+2n..6+2n Fonts F1..F4, 7+2n ToUnicode CMap stream
    page_nums = [3 + i for i in range(n)]
    content_nums = [3 + n + i for i in range(n)]
    font_nums = [3 + 2 * n + i for i in range(4)]
    tounicode_num = 7 + 2 * n
    font_res = {spec[0]: Ref(font_nums[k], 0)
                for k, spec in enumerate(_FONT_SPECS)}
    bodies: dict = {}
    bodies[1] = _ser({"Type": Name("Catalog"), "Pages": Ref(2, 0)})
    bodies[2] = _ser({
        "Type": Name("Pages"),
        "Kids": [Ref(p, 0) for p in page_nums],
        "Count": n,
        "Resources": {"Font": font_res},  # inheritable
    })
    for i in range(n):
        page = {
            "Type": Name("Page"),
            "Parent": Ref(2, 0),
            "MediaBox": [0, 0, 612, 792],
            "Contents": Ref(content_nums[i], 0),
        }
        if i % 2 == 0:  # alternate: explicit vs inherited resources
            page["Resources"] = {"Font": font_res}
        bodies[page_nums[i]] = _ser(page)
    decoy = xref_mode == "update"
    for i, para in enumerate(paragraphs):
        text = decoy_text if (decoy and i == 0) else para
        content = _page_stream(text, i, op_salt, aggressive_every, invs)
        bodies[content_nums[i]] = _stream_obj(
            content, filter_cycle[i % len(filter_cycle)]
        )
    for k, (_nm, base, diffs) in enumerate(_FONT_SPECS[:3]):
        bodies[font_nums[k]] = _ser(_font_object(base, diffs))
    bodies[font_nums[3]] = _ser({
        "Type": Name("Font"),
        "Subtype": Name("Type0"),
        "BaseFont": Name("EEH-Identity"),
        "Encoding": Name("Identity-H"),
        "DescendantFonts": [{
            "Type": Name("Font"),
            "Subtype": Name("CIDFontType2"),
            "BaseFont": Name("EEH-Identity"),
            "CIDSystemInfo": {
                "Registry": b"Adobe", "Ordering": b"Identity",
                "Supplement": 0,
            },
        }],
        "ToUnicode": Ref(tounicode_num, 0),
    })
    bodies[tounicode_num] = _stream_obj(cmap, "flate")

    if xref_mode in ("classic", "update"):
        data = _emit_classic(bodies, root=1)
        if xref_mode == "update":
            fixed = _page_stream(paragraphs[0], 0, op_salt, aggressive_every,
                                 invs)
            new_body = _stream_obj(fixed, filter_cycle[0])
            data = _emit_update(data, {content_nums[0]: new_body}, root=1)
        return data
    if xref_mode == "stream":
        packed = [1, 2] + page_nums + font_nums  # non-stream objects
        return _emit_xref_stream(bodies, packed, root=1)
    raise ValueError(f"pdf: unknown xref_mode {xref_mode}")


def _emit_classic(bodies: dict, root: int) -> bytes:
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + bodies[num] + b"\nendobj\n"
    xref_at = len(out)
    size = max(bodies) + 1
    out += b"xref\n0 %d\n" % size
    out += b"0000000000 65535 f \n"
    for num in range(1, size):
        out += b"%010d 00000 n \n" % offsets[num]
    out += b"trailer\n" + _ser({"Size": size, "Root": Ref(root, 0)})
    out += b"\nstartxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


def _emit_update(base: bytes, new_bodies: dict, root: int) -> bytes:
    """Incremental update (§7.5.6): append objects + a new xref
    section whose /Prev points at the original table."""
    m = None
    for m in re.finditer(rb"startxref\s+(\d+)", base):
        pass
    prev_at = int(m.group(1))
    out = bytearray(base)
    offsets = {}
    for num in sorted(new_bodies):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + new_bodies[num] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n"
    for num in sorted(offsets):
        out += b"%d 1\n%010d 00000 n \n" % (num, offsets[num])
    m_size = re.search(rb"/Size (\d+)", base)
    size = max(int(m_size.group(1)), max(new_bodies) + 1)
    out += b"trailer\n" + _ser(
        {"Size": size, "Root": Ref(root, 0), "Prev": prev_at}
    )
    out += b"\nstartxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


def _emit_xref_stream(bodies: dict, packed: list, root: int) -> bytes:
    """PDF 1.5 layout: ``packed`` object numbers live in one ObjStm
    (type-2 xref entries); stream objects stay top-level; the xref
    itself is a FlateDecode stream with PNG Up predictor."""
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    objstm_num = max(bodies) + 1
    xref_num = objstm_num + 1
    # object stream body: "num offset" pairs header, then bodies
    parts, pairs = [], []
    at = 0
    for num in sorted(packed):
        body = bodies[num]
        pairs.append(b"%d %d" % (num, at))
        parts.append(body)
        at += len(body) + 1
    header = b" ".join(pairs) + b"\n"
    stm_body = header + b"\n".join(parts) + b"\n"
    objstm = _stream_obj(
        stm_body, "flate",
        {"Type": Name("ObjStm"), "N": len(packed), "First": len(header)},
    )
    offsets = {}
    top = [n for n in sorted(bodies) if n not in set(packed)] + [objstm_num]
    for num in top:
        offsets[num] = len(out)
        body = objstm if num == objstm_num else bodies[num]
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(out)
    size = xref_num + 1
    # rows: W = [1 2 1]
    # W = [1 4 2]: 4-byte offsets (a multi-KB corpus PDF easily
    # exceeds the 64 KiB a 2-byte field could address)
    rows = {0: bytes(7)}
    for num in top:
        rows[num] = bytes([1]) + offsets[num].to_bytes(4, "big") + bytes(2)
    for idx, num in enumerate(sorted(packed)):
        rows[num] = (bytes([2]) + objstm_num.to_bytes(4, "big")
                     + idx.to_bytes(2, "big"))
    rows[xref_num] = bytes([1]) + xref_at.to_bytes(4, "big") + bytes(2)
    table = b"".join(rows[k] for k in range(size))
    # PNG Up predictor, columns = 7
    pred = bytearray()
    prev = bytes(7)
    for r in range(size):
        row = table[r * 7 : (r + 1) * 7]
        pred.append(2)
        pred += bytes((row[x] - prev[x]) & 0xFF for x in range(7))
        prev = row
    raw = _flate_encode(bytes(pred))
    xdict = {
        "Type": Name("XRef"),
        "Size": size,
        "W": [1, 4, 2],
        "Index": [0, size],
        "Root": Ref(root, 0),
        "Filter": Name("FlateDecode"),
        "DecodeParms": {"Predictor": 12, "Columns": 7},
        "Length": len(raw),
    }
    out += b"%d 0 obj\n" % xref_num + _ser(xdict)
    out += b"\nstream\n" + raw + b"\nendstream\nendobj\n"
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)
