"""PDF text extraction source (north_rule 'PDF/layout parse').

A minimal but real parser for the text layer of PDF files.  Round 5 laid
down the core (object scan, FlateDecode content streams, BT/ET + Tm/Td/
TD/Tj/TJ with string escapes); round 6 widens it to the modern file
layout (VERDICT r5 item 5):

  * cross-reference parsing — classic `xref` tables AND xref STREAMS
    (/Type/XRef, /W field widths, /Index subsections, FlateDecode with
    PNG /Predictor 12 row-filtering), following the /Prev chain through
    incremental updates.  Object offsets from the xref take precedence
    over the whole-file scan, so a superseded or orphaned object body
    later in the file cannot shadow the live one — the scan remains as
    the tolerant fallback for linearized/cut files.
  * compressed object streams (/Type/ObjStm, /N pairs + /First): type-2
    xref entries resolve through the container's offset table.
  * multiple content streams per page (/Contents array): concatenated
    in array order with a newline, per spec (ISO 32000-1 7.8.2).
  * indirect /Length references (`/Length N 0 R`) resolve through the
    object table.
  * text-state operators `TL` (leading), `T*` (next line) and `'`
    (next line + show), with Td/TD/Tm maintaining the LINE start the
    way the spec's text line matrix does (TD also sets leading).

Covers the classic layout (`datagen.pdf_from_boxes`) and the
modern-layout fixture (`datagen.pdf_modern_bytes`: ObjStm + xref stream
+ 2-stream pages + incremental update); anything unparsable raises ValueError so the
pipeline's quarantine catch applies.

This is a SOURCE: the reference service only ever renders PDF overlays
out; the north rule's extraction mandate ("HTML boilerplate strip,
PDF/layout parse, DOM heuristics") makes the inverse direction —
positioned text spans back OUT of PDF bytes — a first-class input path.
"""

from __future__ import annotations

import re
import zlib

from .ocr.png import _defilter

_OBJ_RE = re.compile(rb"(\d+) 0 obj\b(.*?)endobj", re.S)
_OBJ_AT_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)
_STREAM_KW_RE = re.compile(rb"stream(?:\r\n|\n)")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?![ \t]+\d+[ \t]+R)")
_LENGTH_REF_RE = re.compile(rb"/Length\s+(\d+)\s+\d+\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[(.*?)\]", re.S)
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.S)
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_PREV_RE = re.compile(rb"/Prev\s+(\d+)")
_W_RE = re.compile(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]")
_INDEX_RE = re.compile(rb"/Index\s*\[((?:\s*\d+)+)\s*\]")
_SIZE_RE = re.compile(rb"/Size\s+(\d+)")
_N_RE = re.compile(rb"/N\s+(\d+)")
_FIRST_RE = re.compile(rb"/First\s+(\d+)")
_PRED_RE = re.compile(rb"/Predictor\s+(\d+)")
_COLS_RE = re.compile(rb"/Columns\s+(\d+)")
# font plumbing (round 7, VERDICT r6 item 7)
_RSRC_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+0\s+R")
_FONT_DICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONT_ENTRY_RE = re.compile(rb"/([A-Za-z0-9._-]+)\s+(\d+)\s+0\s+R")
_ENC_DICT_RE = re.compile(rb"/Encoding\s*<<(.*?)>>", re.S)
_ENC_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+0\s+R")
_DIFF_RE = re.compile(rb"/Differences\s*\[(.*?)\]", re.S)
_DIFF_TOK_RE = re.compile(rb"(\d+)|/([A-Za-z0-9._-]+)")
_TOUNI_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+0\s+R")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CMAP_TOK_RE = re.compile(rb"<([0-9A-Fa-f]+)>|(\[)|(\])")
_TRAILER_DICT_RE = re.compile(rb"trailer\s*<<")
_XREF_STREAM_RE = re.compile(rb"/Type\s*/XRef")
# what a dictionary scan must see: string escapes and parentheses, nested
# dictionaries, hex strings (so `<AB>>>` is not read as `<AB` + `>>>`),
# and the /Encrypt reference itself
_DICT_TOKEN_RE = re.compile(
    rb"\\.|\(|\)|<<|>>|<[0-9A-Fa-f\s]*>|/Encrypt\s+\d+\s+\d+\s+R", re.S
)


def _dict_has_encrypt(data: bytes, start: int) -> bool:
    """Whether the dictionary opened by the `<<` at `start` holds an
    /Encrypt reference as one of its own entries.  The scan runs to the
    matching `>>`, counting nested dictionaries and skipping literal
    strings (escapes, balanced parentheses) and hex strings."""
    depth = paren = 0
    for m in _DICT_TOKEN_RE.finditer(data, start):
        tok = m.group()
        if paren:
            paren += {b"(": 1, b")": -1}.get(tok, 0)
        elif tok == b"(":
            paren = 1
        elif tok == b"<<":
            depth += 1
        elif tok == b">>":
            depth -= 1
            if depth == 0:
                return False
        elif tok.startswith(b"/Encrypt") and depth == 1:
            return True
    return False


def _is_encrypted(data: bytes) -> bool:
    """True when a trailer dictionary carries /Encrypt (ISO 32000-1 7.6).

    Each `trailer` dictionary and each /Type /XRef cross-reference stream
    dictionary is scanned up to its matching `>>`, wherever the key sits
    in it.  Nothing else is searched: an unencrypted PDF whose content or
    string data happens to contain the literal `/Encrypt 9 0 R` is not
    quarantined.
    """
    for m in _TRAILER_DICT_RE.finditer(data):
        if _dict_has_encrypt(data, m.end() - 2):
            return True
    for m in _XREF_STREAM_RE.finditer(data):
        # the stream dictionary opens after its object header
        obj = data.rfind(b"obj", 0, m.start())
        start = data.find(b"<<", obj, m.start()) if obj >= 0 else -1
        if start >= 0 and _dict_has_encrypt(data, start):
            return True
    return False


# Adobe Glyph List subset covering the names a text-layer /Differences
# realistically uses (ASCII + common Latin-1 accents + typographic
# punctuation); uniXXXX names resolve programmatically.
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "eacute": "é", "egrave": "è", "agrave": "à",
    "ccedilla": "ç", "ntilde": "ñ", "adieresis": "ä",
    "odieresis": "ö", "udieresis": "ü", "oslash": "ø",
    "aring": "å", "bullet": "•", "endash": "–",
    "emdash": "—", "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
}


def _glyph_to_char(name: str) -> str | None:
    """Glyph name -> character: single-letter names map to themselves
    (AGL: A..Z a..z are their own glyph names), uniXXXX decodes the hex,
    the rest through the AGL subset; None when unknown (the caller keeps
    the raw code, matching viewers' fallback)."""
    if len(name) == 1 and name.isalpha():
        return name
    if name.startswith("uni") and len(name) == 7:
        try:
            return chr(int(name[3:], 16))
        except ValueError:
            return None
    return _AGL.get(name)


def _int_at(buf: bytes, pos: int, width: int) -> int:
    return int.from_bytes(buf[pos : pos + width], "big") if width else 0


def _parse_xref_at(data: bytes, pos: int, entries: dict[int, tuple]) -> int | None:
    """Parse one xref section (classic table or xref stream) at `pos`;
    fills `entries` (first writer wins — newest section is parsed first,
    so /Prev chains preserve incremental-update precedence).  Returns the
    /Prev offset or None."""
    if data[pos : pos + 4] == b"xref":
        # classic table: subsections "start count" then 20-byte entries
        p = pos + 4
        while True:
            m = re.match(rb"\s*(\d+)\s+(\d+)\s*", data[p:])
            if not m:
                break
            start, count = int(m.group(1)), int(m.group(2))
            p += m.end()
            for i in range(count):
                line = data[p : p + 20]
                p += 20
                if len(line) < 18:
                    raise ValueError("truncated xref table")
                off, _gen, kind = line[:10], line[11:16], line[17:18]
                if kind == b"n" and (start + i) not in entries:
                    entries[start + i] = (1, int(off), 0)
        tm = re.search(rb"trailer", data[pos:p + 512])
        tail = data[pos + (tm.end() if tm else 0) : p + 1024]
        pm = _PREV_RE.search(tail)
        return int(pm.group(1)) if pm else None
    # xref STREAM: an ordinary "N G obj" with /Type/XRef
    m = _OBJ_AT_RE.match(data, pos)
    if not m:
        raise ValueError("no xref section at startxref offset")
    body = m.group(2)
    if b"/XRef" not in body:
        raise ValueError("object at startxref offset is not an XRef stream")
    wm = _W_RE.search(body)
    if not wm:
        raise ValueError("XRef stream missing /W")
    w1, w2, w3 = (int(wm.group(i)) for i in (1, 2, 3))
    raw = _raw_stream_bytes(body)
    if b"/FlateDecode" in body:
        raw = zlib.decompress(raw)
    pm = _PRED_RE.search(body)
    if pm and int(pm.group(1)) >= 10:
        # PNG row filtering (ISO 32000-1 7.4.4.4): each row is a filter
        # byte and /Columns data bytes
        cm = _COLS_RE.search(body)
        columns = int(cm.group(1)) if cm else w1 + w2 + w3
        if len(raw) % (columns + 1):
            raise ValueError("predictor row size mismatch")
        raw = _defilter(raw, len(raw) // (columns + 1), columns).tobytes()
    im = _INDEX_RE.search(body)
    if im:
        nums = [int(t) for t in im.group(1).split()]
        index = list(zip(nums[0::2], nums[1::2]))
    else:
        sm = _SIZE_RE.search(body)
        index = [(0, int(sm.group(1)) if sm else 0)]
    row_w = w1 + w2 + w3
    p = 0
    for start, count in index:
        for i in range(count):
            if p + row_w > len(raw):
                raise ValueError("truncated XRef stream data")
            ftype = _int_at(raw, p, w1) if w1 else 1
            f2 = _int_at(raw, p + w1, w2)
            f3 = _int_at(raw, p + w1 + w2, w3)
            p += row_w
            num = start + i
            if num not in entries and ftype in (1, 2):
                entries[num] = (ftype, f2, f3)
    prev = _PREV_RE.search(body)
    return int(prev.group(1)) if prev else None


def _pdf_xref_entries(data: bytes) -> dict[int, tuple]:
    """obj number -> (1, byte offset, _) | (2, container objstm, index),
    newest incremental-update section winning.  Raises when the file has
    no usable startxref (caller falls back to the whole-file scan)."""
    sm = None
    for sm in _STARTXREF_RE.finditer(data):
        pass  # last startxref = newest update section
    if not sm:
        raise ValueError("no startxref")
    entries: dict[int, tuple] = {}
    pos, seen = int(sm.group(1)), set()
    while pos is not None and pos not in seen and 0 <= pos < len(data):
        seen.add(pos)
        pos = _parse_xref_at(data, pos, entries)
    if not entries:
        raise ValueError("empty xref")
    return entries


def _expand_objstm(body: bytes, objs: dict[int, bytes]) -> None:
    """Inline every object of a /Type/ObjStm container into `objs`
    (existing entries win — xref-resolved objects take precedence)."""
    nm, fm = _N_RE.search(body), _FIRST_RE.search(body)
    if not (nm and fm):
        raise ValueError("ObjStm missing /N or /First")
    content = _content_stream(body)
    if content is None:
        raise ValueError("ObjStm without stream data")
    n, first = int(nm.group(1)), int(fm.group(1))
    header = content[:first].split()
    if len(header) < 2 * n:
        raise ValueError("truncated ObjStm header")
    pairs = [(int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)]
    for i, (num, off) in enumerate(pairs):
        end = pairs[i + 1][1] if i + 1 < n else len(content) - first
        if num not in objs:
            objs[num] = content[first + off : first + end]


def _pdf_objects(data: bytes) -> dict[int, bytes]:
    """Object table: xref-resolved bodies first (classic tables, xref
    streams, /Prev chains, ObjStm members), then the whole-file scan as
    a tolerant fallback for anything the xref missed (or files with no
    usable xref at all).  Precedence matters: an orphaned/superseded
    object body elsewhere in the file must not shadow the live one the
    xref points to."""
    if not data.startswith(b"%PDF"):
        raise ValueError("not a PDF")
    objs: dict[int, bytes] = {}
    objstms: list[bytes] = []
    try:
        entries = _pdf_xref_entries(data)
    except ValueError:
        entries = {}
    for num, ent in entries.items():
        if ent[0] == 1:
            m = _OBJ_AT_RE.match(data, ent[1])
            if m and int(m.group(1)) == num:
                objs[num] = m.group(2)
                if b"/ObjStm" in m.group(2):
                    objstms.append(m.group(2))
    for body in objstms:
        _expand_objstm(body, objs)
    for m in _OBJ_RE.finditer(data):  # tolerant fallback, never overrides
        num = int(m.group(1))
        if num not in objs:
            objs[num] = m.group(2)
            if b"/ObjStm" in m.group(2):
                _expand_objstm(m.group(2), objs)
    return objs


def _raw_stream_bytes(body: bytes, objs: dict[int, bytes] | None = None) -> bytes:
    """Stream payload sliced by /Length (direct, or indirect resolved
    through `objs`); endstream-regex fallback when /Length is absent."""
    km = _STREAM_KW_RE.search(body)
    lm = _LENGTH_RE.search(body)
    if lm is None and objs is not None:
        rm = _LENGTH_REF_RE.search(body)
        if rm:
            target = objs.get(int(rm.group(1)), b"")
            dm = re.search(rb"(\d+)", target)
            if dm:
                return body[km.end() : km.end() + int(dm.group(1))] if km else b""
    if lm and km:
        return body[km.end() : km.end() + int(lm.group(1))]
    m = _STREAM_RE.search(body)
    if not m:
        raise ValueError("object has no stream")
    return m.group(1)


def _content_stream(body: bytes, objs: dict[int, bytes] | None = None) -> bytes | None:
    try:
        raw = _raw_stream_bytes(body, objs)
    except ValueError:
        return None
    if b"/FlateDecode" in body:
        return zlib.decompress(raw)
    return raw


def _unescape(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt in "nrtbf":
                out.append({"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f"}[nxt])
                i += 2
                continue
            if nxt in "\\()":
                out.append(nxt)
                i += 2
                continue
            if nxt.isdigit():  # octal escape, 1-3 digits
                j = i + 1
                while j < min(i + 4, len(s)) and s[j].isdigit():
                    j += 1
                # ISO 32000-1 7.3.4.2: high-order overflow is ignored —
                # the character code is the octal value mod 256 (ADVICE r6)
                out.append(chr(int(s[i + 1 : j], 8) & 0xFF))
                i = j
                continue
            if nxt in "\r\n":  # line continuation: drop backslash + EOL
                i += 2
                if nxt == "\r" and i < len(s) and s[i] == "\n":
                    i += 1
                continue
            # PDF 7.3.4.2: an unrecognized escape drops the backslash and
            # keeps the following character.
            out.append(nxt)
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _parse_tounicode(stream: bytes) -> dict | None:
    """/ToUnicode CMap stream -> {"nbytes": 1|2, "map": {code: str}}.

    Parses every beginbfchar (src/dst hex pairs) and beginbfrange
    section (<lo> <hi> <dstStart>, or <lo> <hi> [<d0> <d1> ...]); dst
    hex is UTF-16BE (ISO 32000-1 9.10.3).  Code width follows the src
    hex token length (1-byte simple fonts, 2-byte composite)."""
    cmap: dict[int, str] = {}
    nbytes = 1

    def _dst(hexs: bytes) -> str:
        return bytes.fromhex(hexs.decode("ascii")).decode("utf-16-be", "replace")

    for m in _BFCHAR_RE.finditer(stream):
        toks = [t[0] for t in _CMAP_TOK_RE.findall(m.group(1)) if t[0]]
        for i in range(0, len(toks) - 1, 2):
            src, dst = toks[i], toks[i + 1]
            nbytes = max(nbytes, len(src) // 2)
            cmap[int(src, 16)] = _dst(dst)
    for m in _BFRANGE_RE.finditer(stream):
        toks = _CMAP_TOK_RE.findall(m.group(1))
        i = 0
        while i + 2 < len(toks):
            lo_h, hi_h = toks[i][0], toks[i + 1][0]
            if not (lo_h and hi_h):
                i += 1
                continue
            lo, hi = int(lo_h, 16), int(hi_h, 16)
            nbytes = max(nbytes, len(lo_h) // 2)
            i += 2
            if toks[i][1]:  # '[' — one explicit dst per code
                i += 1
                code = lo
                while i < len(toks) and not toks[i][2]:
                    if toks[i][0] and code <= hi:
                        cmap[code] = _dst(toks[i][0])
                        code += 1
                    i += 1
                i += 1  # skip ']'
            elif toks[i][0]:  # <dstStart>: consecutive from the start
                start = bytes.fromhex(toks[i][0].decode("ascii"))
                base = int.from_bytes(start, "big")
                for code in range(lo, hi + 1):
                    cmap[code] = (
                        (base + code - lo)
                        .to_bytes(len(start), "big")
                        .decode("utf-16-be", "replace")
                        if len(start) >= 2
                        else chr(base + code - lo)
                    )
                i += 1
    return {"nbytes": nbytes, "map": cmap} if cmap else None


def _parse_differences(body: bytes, objs: dict[int, bytes]) -> dict | None:
    """/Encoding with /Differences (inline dict or indirect object) ->
    {"nbytes": 1, "map": {code: str}}; None when absent.  The array
    alternates code integers and glyph names: each integer resets the
    running code, each name assigns and increments (ISO 32000-1
    9.6.6.3).  Unknown glyph names keep the raw code (viewer fallback),
    so a partially-covered table still extracts the covered part."""
    em = _ENC_DICT_RE.search(body)
    enc_body = em.group(1) if em else None
    if enc_body is None:
        rm = _ENC_REF_RE.search(body)
        if rm:
            enc_body = objs.get(int(rm.group(1)))
    if enc_body is None:
        return None
    dm = _DIFF_RE.search(enc_body)
    if not dm:
        return None
    cmap: dict[int, str] = {}
    code = 0
    for num, name in _DIFF_TOK_RE.findall(dm.group(1)):
        if num:
            code = int(num)
            continue
        ch = _glyph_to_char(name.decode("latin-1"))
        if ch is not None:
            cmap[code] = ch
        code += 1
    return {"nbytes": 1, "map": cmap} if cmap else None


def _page_fonts(page_body: bytes, objs: dict[int, bytes]) -> dict[str, dict]:
    """Page /Resources /Font -> {resource name: decode map}.  /ToUnicode
    wins over /Encoding /Differences (the spec's extraction order:
    9.10.2 lists the ToUnicode CMap first); fonts with neither are
    omitted (identity text-string semantics)."""
    rsrc = page_body
    rm = _RSRC_REF_RE.search(page_body)
    if rm:
        rsrc = objs.get(int(rm.group(1)), b"")
    fm = _FONT_DICT_RE.search(rsrc)
    if not fm:
        return {}
    fonts: dict[str, dict] = {}
    for name, ref in _FONT_ENTRY_RE.findall(fm.group(1)):
        fbody = objs.get(int(ref))
        if fbody is None:
            continue
        fmap = None
        tm = _TOUNI_RE.search(fbody)
        if tm:
            stream = _content_stream(objs.get(int(tm.group(1)), b""), objs)
            if stream:
                fmap = _parse_tounicode(stream)
        if fmap is None:
            fmap = _parse_differences(fbody, objs)
        if fmap is not None:
            fonts[name.decode("latin-1")] = fmap
    return fonts


def _decode_shown(raw: bytes, fmap: dict | None) -> str:
    """Shown-string bytes -> text through the current font's decode map;
    no map -> plain text-string semantics (UTF-16BE BOM / PDFDoc)."""
    if fmap is None:
        return _pdf_text(raw)
    n, m = fmap["nbytes"], fmap["map"]
    if n == 2:
        codes = [
            int.from_bytes(raw[i : i + 2], "big")
            for i in range(0, len(raw) - (len(raw) % 2), 2)
        ]
    else:
        codes = list(raw)
    return "".join(m.get(c, chr(c) if c < 0x110000 else "?") for c in codes)


_TOKEN_RE = re.compile(
    r"""\((?:[^()\\]|\\.)*\)   # literal string (with escapes)
      | <[0-9A-Fa-f\s]*>       # hex string (7.3.4.3)
      | \[ | \]
      | [-+]?\d*\.?\d+         # number
      | /[A-Za-z0-9#._-]+      # name
      | [A-Za-z'"*]+           # operator
    """,
    re.X,
)


def _pdf_text(raw: bytes) -> str:
    """PDF text-string semantics (ISO 32000-1 7.9.2.2): a UTF-16BE BOM
    selects UTF-16BE; otherwise bytes read as PDFDocEncoding (latin-1
    superset for the range this engine emits)."""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", "replace")
    return raw.decode("latin-1")


def _extract_from_stream(
    content: bytes, page: int, fonts: dict[str, dict] | None = None
) -> list[tuple]:
    """One content stream -> [(page, x, y, text)] in drawing order.

    Text positioning follows the spec's line-matrix model (ISO 32000-1
    9.4.2): Td/TD translate the LINE start (TD also sets leading = -ty),
    Tm replaces it, `TL` sets leading, `T*` moves to the next line
    (line start shifted down by the leading), `'` is T* + show.

    Round 7 (VERDICT r6 item 7): `Tf` selects the current font; shown
    strings decode through that font's /ToUnicode CMap or /Encoding
    /Differences map (`fonts`, from `_page_fonts`) — PDFs from real
    typesetters use subset fonts with custom encodings whose raw string
    bytes are NOT the text.  Fonts without a map (or no fonts at all)
    keep the plain text-string semantics, byte-identical to round 6."""
    text = content.decode("latin-1", "replace")
    spans: list[tuple] = []
    stack: list = []
    lx = ly = 0.0  # line start (text line matrix translation)
    leading = 0.0
    in_text = False
    cur_map: dict | None = None  # font state persists across BT/ET (9.3)
    for m in _TOKEN_RE.finditer(text):
        tok = m.group(0)
        if tok == "BT":
            in_text, lx, ly, leading = True, 0.0, 0.0, leading
            stack = []
        elif tok == "ET":
            in_text = False
            stack = []
        elif not in_text:
            continue
        elif tok.startswith("("):
            s = _unescape(tok[1:-1])
            stack.append(("s", s.encode("latin-1", "replace")))
        elif tok.startswith("<"):
            digits = "".join(tok[1:-1].split())
            if len(digits) % 2:
                digits += "0"  # odd final digit pads with 0 (7.3.4.3)
            stack.append(("s", bytes.fromhex(digits)))
        elif tok in ("[", "]"):
            continue  # TJ arrays: strings concatenate, kerning numbers drop
        elif tok.startswith("/"):
            stack.append(("f", tok[1:]))
        elif re.fullmatch(r"[-+]?\d*\.?\d+", tok):
            stack.append(("n", float(tok)))
        elif tok == "Tf":
            names = [v for k, v in stack if k == "f"]
            if names:
                cur_map = (fonts or {}).get(names[-1])
            stack = []
        elif tok == "Tm":
            nums = [v for k, v in stack if k == "n"][-6:]
            if len(nums) == 6:
                lx, ly = nums[4], nums[5]
            stack = []
        elif tok in ("Td", "TD"):
            nums = [v for k, v in stack if k == "n"][-2:]
            if len(nums) == 2:
                lx, ly = lx + nums[0], ly + nums[1]
                if tok == "TD":
                    leading = -nums[1]
            stack = []
        elif tok == "TL":
            nums = [v for k, v in stack if k == "n"]
            if nums:
                leading = nums[-1]
            stack = []
        elif tok == "T*":
            ly -= leading
            stack = []
        elif tok in ("Tj", "'"):
            if tok == "'":
                ly -= leading
            strs = [v for k, v in stack if k == "s"]
            if strs:
                spans.append(
                    (page, round(lx, 1), round(ly, 1), _decode_shown(strs[-1], cur_map))
                )
            stack = []
        elif tok == "TJ":
            strs = [v for k, v in stack if k == "s"]
            if strs:
                spans.append(
                    (
                        page,
                        round(lx, 1),
                        round(ly, 1),
                        "".join(_decode_shown(s, cur_map) for s in strs),
                    )
                )
            stack = []
        else:  # Tc, Tw, colors, ... consume operands
            stack = []
    return spans


def pdf_text_spans(data: bytes) -> list[tuple]:
    """PDF bytes -> [(page, x, y, text)] spans in page + drawing order.

    Pages resolve through the /Pages tree's /Kids order; each page's
    /Contents stream is parsed independently with that page's font
    decode maps (/ToUnicode, /Encoding /Differences).  PDFs without a
    parseable page tree fall back to scanning every stream object in
    object order (tolerant mode for linearized/cut files).  Encrypted
    PDFs raise ValueError, so the operator's quarantine catch yields
    the all-null row."""
    if _is_encrypted(data):
        raise ValueError("encrypted PDF (/Encrypt) — no key material")
    objs = _pdf_objects(data)
    page_contents: list[tuple[list[int], dict]] = []
    kids_order: list[int] = []
    for _num, body in sorted(objs.items()):
        if b"/Type /Pages" in body or b"/Type/Pages" in body:
            m = _KIDS_RE.search(body)
            if m:
                kids_order = [int(r.group(1)) for r in _REF_RE.finditer(m.group(1))]
    for kid in kids_order:
        body = objs.get(kid, b"")
        fonts = _page_fonts(body, objs)
        am = _CONTENTS_ARR_RE.search(body)
        if am:  # /Contents [c1 0 R c2 0 R ...]: array order
            refs = [int(r.group(1)) for r in _REF_RE.finditer(am.group(1))]
            if refs:
                page_contents.append((refs, fonts))
            continue
        m = _CONTENTS_RE.search(body)
        if m:
            page_contents.append(([int(m.group(1))], fonts))
    spans: list[tuple] = []
    if page_contents:
        for page, (cnums, fonts) in enumerate(page_contents):
            # multiple /Contents streams concatenate with a newline
            # (ISO 32000-1 7.8.2) and parse as ONE stream: text state
            # (line matrix, leading) flows across the boundary
            parts = [
                c
                for c in (_content_stream(objs.get(n, b""), objs) for n in cnums)
                if c is not None
            ]
            if parts:
                spans.extend(_extract_from_stream(b"\n".join(parts), page, fonts))
    else:  # tolerant fallback: every stream in object order on page 0
        for _num, body in sorted(objs.items()):
            if b"/ObjStm" in body or b"/XRef" in body:
                continue  # container/xref streams are not page content
            try:
                content = _content_stream(body, objs)
            except Exception:
                continue
            if content is not None:
                spans.extend(_extract_from_stream(content, 0))
    if not spans:
        raise ValueError("no text spans found in PDF")
    return spans


def pdf_extract_spans_df(artifacts, id_col: str = "doc_id", payload_col: str = "artifact"):
    """DataFrame operator: (id, pdf bytes) -> one row per text span
    (id, page, x, y, text), the id as a string.  Run by `map_payloads`,
    the loop of every binary media path: an unparsable or NULL payload
    gives one row of its id with NULL fields, never a task failure."""
    from pyspark.sql import types as T

    from ms_ocr_spark.operators.multimodal import map_payloads

    schema = T.StructType(
        [
            T.StructField(id_col, T.StringType()),
            T.StructField("page", T.IntegerType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("y", T.DoubleType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return map_payloads(artifacts, schema, pdf_text_spans, id_col, payload_col)
