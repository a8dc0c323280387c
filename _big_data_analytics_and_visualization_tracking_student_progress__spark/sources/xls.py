"""Minimal stdlib legacy-``.xls`` (BIFF8) reader.

The reference's drop-folder watcher accepts BOTH ``.xlsx`` and ``.xls``
(pro.py:99-108); the vendored xlsx reader (sources/xlsx.py) covers only
the zip/XML format, so a real drop of an old Excel file used to be the
one unreadable input.  This module closes that gap from public format
documentation alone ([MS-CFB] compound file binary + [MS-XLS] BIFF8),
~stdlib ``struct`` only — the container ships no spreadsheet engine.

Two layers:

1. **CFB container** (`_cfb_stream`): sector FAT / directory / miniFAT
   parsing, enough to extract the ``Workbook`` (or BIFF5 ``Book``)
   stream — both the regular-sector path and the mini-stream path
   (streams under the 4096-byte cutoff live in 64-byte mini sectors
   inside the root entry's stream).
2. **BIFF8 records** (`read_xls_rows`): workbook globals (SST with
   CONTINUE-split strings, BOUNDSHEET) then the first worksheet's cell
   records — LABELSST, LABEL, NUMBER, RK, MULRK, BOOLERR, FORMULA (+
   cached STRING), BLANK — into the same ``(header, rows)`` shape
   ``read_xlsx_rows`` returns, so ``read_excel`` shares one
   schema-resolution path for both formats.

Scope (documented, deliberate — mirrors the xlsx reader's):
- first worksheet only, in BOUNDSHEET order;
- number formats are NOT interpreted: date cells surface as raw Excel
  serial numbers (converting them is the caller's rule, as in the
  reference's row-wise reads);
- header row 1, data rows 2+, all-empty rows skipped (P5);
- BIFF8 (Excel 97+; every .xls written this century) in full, plus a
  minimal BIFF5 (Excel 5.0/95) subset — ``Book`` stream, inline LABEL
  byte strings, RK/NUMBER/MULRK/BOOLERR (which share BIFF8's layouts).
  BIFF2-4 single-sheet streams raise `UnsupportedXlsError` naming the
  gap.
"""

from __future__ import annotations

import struct

CFB_SIG = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"

_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD


class UnsupportedXlsError(ValueError):
    """A .xls file outside this reader's documented BIFF8 scope."""


# ---------------------------------------------------------------------------
# Layer 1 — [MS-CFB] compound file container
# ---------------------------------------------------------------------------
def _u16(b: bytes, off: int) -> int:
    return struct.unpack_from("<H", b, off)[0]


def _u32(b: bytes, off: int) -> int:
    return struct.unpack_from("<I", b, off)[0]


def _sector(data: bytes, idx: int, ssz: int) -> bytes:
    # [MS-CFB]: sector 0 starts after the header, which occupies one
    # FULL sector — 512 bytes in v3, 4096 in v4 — so the offset is
    # (idx+1)*ssz, not 512+idx*ssz (equivalent only when ssz == 512)
    off = (idx + 1) * ssz
    return data[off : off + ssz]


def _chain(fat: list[int], start: int) -> list[int]:
    out, cur, seen = [], start, set()
    while cur != _ENDOFCHAIN and cur != _FREESECT:
        if cur in seen or cur >= len(fat):
            raise UnsupportedXlsError("corrupt CFB: broken sector chain")
        seen.add(cur)
        out.append(cur)
        cur = fat[cur]
    return out


def _cfb_stream(data: bytes, names: tuple[str, ...]) -> bytes | None:
    """Extract the first directory stream whose name is in `names`."""
    if len(data) < 512 or data[:8] != CFB_SIG:
        raise UnsupportedXlsError(
            "not a compound file (missing D0CF11E0 signature) — "
            "not a legacy .xls workbook"
        )
    ssz = 1 << _u16(data, 30)
    mini_ssz = 1 << _u16(data, 32)
    n_fat = _u32(data, 44)
    first_dir = _u32(data, 48)
    mini_cutoff = _u32(data, 56)
    first_minifat = _u32(data, 60)
    n_minifat = _u32(data, 64)
    first_difat = _u32(data, 68)

    # FAT sector list: 109 header DIFAT entries, then chained DIFAT sectors
    fat_sectors = [
        _u32(data, 76 + 4 * i)
        for i in range(109)
        if _u32(data, 76 + 4 * i) not in (_FREESECT, _ENDOFCHAIN)
    ]
    difat = first_difat
    while difat not in (_ENDOFCHAIN, _FREESECT):
        sec = _sector(data, difat, ssz)
        per = ssz // 4 - 1
        fat_sectors += [
            _u32(sec, 4 * i)
            for i in range(per)
            if _u32(sec, 4 * i) not in (_FREESECT, _ENDOFCHAIN)
        ]
        difat = _u32(sec, 4 * per)
    fat_sectors = fat_sectors[:n_fat]

    fat: list[int] = []
    for fs in fat_sectors:
        sec = _sector(data, fs, ssz)
        fat += [_u32(sec, 4 * i) for i in range(ssz // 4)]

    dir_data = b"".join(_sector(data, s, ssz) for s in _chain(fat, first_dir))

    minifat: list[int] = []
    if n_minifat and first_minifat not in (_ENDOFCHAIN, _FREESECT):
        for s in _chain(fat, first_minifat):
            sec = _sector(data, s, ssz)
            minifat += [_u32(sec, 4 * i) for i in range(ssz // 4)]

    # directory entries are 128 bytes; entry 0 is the root storage, whose
    # own chain IS the mini stream container
    entries = []
    for off in range(0, len(dir_data) - 127, 128):
        obj_type = dir_data[off + 66]
        if obj_type not in (1, 2, 5):
            continue
        name_len = _u16(dir_data, off + 64)
        name = (
            dir_data[off : off + max(0, name_len - 2)]
            .decode("utf-16-le", errors="replace")
            .rstrip("\x00")  # tolerate sloppy writers' padded names
        )
        start = _u32(dir_data, off + 116)
        size = struct.unpack_from("<Q", dir_data, off + 120)[0]
        # v3 files only define the low 4 bytes of the size field
        if ssz == 512:
            size &= 0xFFFFFFFF
        entries.append((name, obj_type, start, size))

    root = next((e for e in entries if e[1] == 5), None)
    mini_container = b""
    if root is not None and root[2] not in (_ENDOFCHAIN, _FREESECT):
        mini_container = b"".join(
            _sector(data, s, ssz) for s in _chain(fat, root[2])
        )

    for name, obj_type, start, size in entries:
        if obj_type != 2 or name not in names:
            continue
        if size < mini_cutoff:
            # mini-stream path: 64-byte sectors inside the root's chain
            out, cur, seen = [], start, set()
            while cur != _ENDOFCHAIN and cur != _FREESECT:
                if cur in seen or cur >= len(minifat):
                    raise UnsupportedXlsError("corrupt CFB: broken miniFAT chain")
                seen.add(cur)
                out.append(
                    mini_container[cur * mini_ssz : (cur + 1) * mini_ssz]
                )
                cur = minifat[cur]
            return b"".join(out)[:size]
        stream = b"".join(_sector(data, s, ssz) for s in _chain(fat, start))
        return stream[:size]
    return None


# ---------------------------------------------------------------------------
# Layer 2 — BIFF8 records
# ---------------------------------------------------------------------------
_SST = 0x00FC
_CONTINUE = 0x003C
_BOUNDSHEET = 0x0085
_BOF = 0x0809
_BOF5 = 0x0409  # BIFF5 (Excel 5.0/95) BOF opcode
_FORMULA5 = 0x0406  # BIFF5 FORMULA opcode (cached-result layout as BIFF8)
_BOF34 = {0x0209: "BIFF3", 0x0009: "BIFF2", 0x0049: "BIFF4"}
_EOF = 0x000A
_LABELSST = 0x00FD
_LABEL = 0x0204
_NUMBER = 0x0203
_RK = 0x027E
_MULRK = 0x00BD
_BOOLERR = 0x0205
_FORMULA = 0x0006
_STRING = 0x0207


def _records(stream: bytes, start: int = 0):
    pos, n = start, len(stream)
    while pos + 4 <= n:
        op, ln = struct.unpack_from("<HH", stream, pos)
        if op == 0 and ln == 0:
            break  # zero padding after the final EOF (mini/FAT slack)
        yield op, stream[pos + 4 : pos + 4 + ln]
        pos += 4 + ln


def _decode_rk(v: int) -> float:
    val: float
    if v & 2:  # 30-bit signed integer
        x = v >> 2
        if x & 0x20000000:
            x -= 0x40000000
        val = float(x)
    else:  # high 30 bits of an IEEE double
        val = struct.unpack("<d", struct.pack("<Q", (v & 0xFFFFFFFC) << 32))[0]
    return val / 100.0 if v & 1 else val


class _SegCursor:
    """Reader over an SST record + its CONTINUE records.  A string split
    at a segment boundary restarts with a fresh option-flags byte — the
    one genuinely tricky BIFF8 rule ([MS-XLS] 2.5.293)."""

    def __init__(self, segments: list[bytes]):
        self.segs = segments
        self.i = 0
        self.pos = 0

    def _remaining(self) -> int:
        return len(self.segs[self.i]) - self.pos

    def _advance_segment(self) -> None:
        self.i += 1
        self.pos = 0
        if self.i >= len(self.segs):
            raise UnsupportedXlsError("corrupt SST: ran past CONTINUE records")

    def read(self, n: int) -> bytes:
        """Raw field bytes (lengths/counts never split across segments
        in practice; tolerate it anyway by stitching)."""
        out = b""
        while n > 0:
            if self._remaining() == 0:
                self._advance_segment()
            take = min(n, self._remaining())
            seg = self.segs[self.i]
            out += seg[self.pos : self.pos + take]
            self.pos += take
            n -= take
        return out

    def read_chars(self, cch: int, high: bool) -> str:
        """cch characters, re-reading the grbit byte (bit 0 = fHighByte)
        whenever the character run crosses into a CONTINUE segment."""
        out: list[str] = []
        width = 2 if high else 1
        while cch > 0:
            if self._remaining() == 0:
                self._advance_segment()
                width = 2 if self.read(1)[0] & 0x01 else 1
            avail = self._remaining() // width
            take = min(cch, avail)
            if take == 0:
                # a 2-byte char split across the boundary: stitch it
                raw = self.read(width)
                out.append(
                    raw.decode("utf-16-le" if width == 2 else "latin-1")
                )
                cch -= 1
                continue
            raw = self.read(take * width)
            out.append(raw.decode("utf-16-le" if width == 2 else "latin-1"))
            cch -= take
        return "".join(out)


def _parse_sst(segments: list[bytes]) -> list[str]:
    cur = _SegCursor(segments)
    cur.read(4)  # cstTotal
    n_unique = _u32(cur.read(4), 0)
    out: list[str] = []
    for _ in range(n_unique):
        cch = _u16(cur.read(2), 0)
        grbit = cur.read(1)[0]
        high = bool(grbit & 0x01)
        ext, rich = bool(grbit & 0x04), bool(grbit & 0x08)
        c_run = _u16(cur.read(2), 0) if rich else 0
        cb_ext = _u32(cur.read(4), 0) if ext else 0
        out.append(cur.read_chars(cch, high))
        if c_run:
            cur.read(4 * c_run)  # formatting runs
        if cb_ext:
            cur.read(cb_ext)  # phonetic data
    return out


def _long_unicode(b: bytes, off: int) -> str:
    """XLUnicodeString (LABEL / cached STRING payloads)."""
    cch = _u16(b, off)
    grbit = b[off + 2]
    if grbit & 0x01:
        return b[off + 3 : off + 3 + 2 * cch].decode("utf-16-le")
    return b[off + 3 : off + 3 + cch].decode("latin-1")


Cell = None | str | float | bool


def _parse_sheet(
    stream: bytes, bof_pos: int, sst: list[str], biff5: bool = False
) -> dict[tuple[int, int], Cell]:
    cells: dict[tuple[int, int], Cell] = {}
    depth = 0
    pending_formula: tuple[int, int] | None = None
    for op, data in _records(stream, bof_pos):
        if op == _BOF or op == _BOF5:
            depth += 1
            continue
        if op == _EOF:
            depth -= 1
            if depth <= 0:
                break
            continue
        if op == _LABELSST:
            r, c, _xf = struct.unpack_from("<HHH", data, 0)
            cells[(r, c)] = sst[_u32(data, 6)]
        elif op == _LABEL:
            r, c = struct.unpack_from("<HH", data, 0)
            if biff5:
                # BIFF5 inline byte string: cch(2) then cch codepage
                # bytes, no option-flags byte ([MS-XLS] 2.5.209 vs the
                # BIFF8 XLUnicodeString)
                cch = _u16(data, 6)
                cells[(r, c)] = data[8 : 8 + cch].decode("latin-1")
            else:
                cells[(r, c)] = _long_unicode(data, 6)
        elif op == _NUMBER:
            r, c = struct.unpack_from("<HH", data, 0)
            cells[(r, c)] = struct.unpack_from("<d", data, 6)[0]
        elif op == _RK:
            r, c = struct.unpack_from("<HH", data, 0)
            cells[(r, c)] = _decode_rk(_u32(data, 6))
        elif op == _MULRK:
            r, c0 = struct.unpack_from("<HH", data, 0)
            # row(2) colFirst(2), then n × (ixfe(2) + rk(4)), colLast(2)
            n = (len(data) - 6) // 6
            for i in range(n):
                cells[(r, c0 + i)] = _decode_rk(_u32(data, 4 + 6 * i + 2))
        elif op == _BOOLERR:
            r, c = struct.unpack_from("<HH", data, 0)
            val, is_err = data[6], data[7]
            cells[(r, c)] = None if is_err else bool(val)
        elif op == _FORMULA or (biff5 and op == _FORMULA5):
            r, c = struct.unpack_from("<HH", data, 0)
            result = data[6:14]
            if result[6:8] == b"\xff\xff":
                kind = result[0]
                if kind == 0:  # string result arrives in the next STRING
                    pending_formula = (r, c)
                elif kind == 1:
                    cells[(r, c)] = bool(result[2])
                else:  # error / blank result
                    cells[(r, c)] = None
            else:
                cells[(r, c)] = struct.unpack("<d", result)[0]
        elif op == _STRING and pending_formula is not None:
            if biff5:
                # BIFF5 STRING: cch(2) then codepage bytes, no flags
                cch = _u16(data, 0)
                cells[pending_formula] = data[2 : 2 + cch].decode("latin-1")
            else:
                cells[pending_formula] = _long_unicode(data, 0)
            pending_formula = None
    return cells


def read_xls_rows(path: str) -> tuple[list[str], list[tuple[Cell, ...]]]:
    """Parse the first worksheet of a BIFF8 .xls into (header, rows) —
    the exact shape sources/xlsx.py's ``read_xlsx_rows`` returns, so
    ``read_excel`` shares one schema-resolution path for both formats."""
    with open(path, "rb") as fh:
        data = fh.read()
    stream = _cfb_stream(data, ("Workbook",))
    biff5 = False
    if stream is None:
        stream = _cfb_stream(data, ("Book",))
        if stream is None:
            raise UnsupportedXlsError(
                "no Workbook stream in compound file — not an Excel workbook"
            )
        # BIFF5 'Book' stream: the cell-record subset (LABEL/NUMBER/RK/
        # MULRK/BOOLERR) shares BIFF8's opcodes and layouts; only the
        # strings change (inline codepage bytes, no SST).  Anything
        # older (BIFF2-4 single-sheet streams) stays a typed error.
        first_op = struct.unpack_from("<H", stream, 0)[0] if len(stream) >= 4 else 0
        if first_op != _BOF5:
            kind = _BOF34.get(first_op, f"record 0x{first_op:04X}")
            raise UnsupportedXlsError(
                f"'Book' stream starts with {kind}, not a BIFF5 BOF — "
                "BIFF2-4 workbooks are not supported"
            )
        biff5 = True

    # pass 1 — workbook globals: SST (+CONTINUEs) and sheet positions
    sst: list[str] = []
    sheet_positions: list[int] = []
    sst_segments: list[bytes] | None = None
    for op, payload in _records(stream):
        if op == _SST:
            sst_segments = [payload]
        elif op == _CONTINUE and sst_segments is not None:
            sst_segments.append(payload)
        elif op == _BOUNDSHEET:
            if sst_segments is not None:
                sst = _parse_sst(sst_segments)
                sst_segments = None
            # only true worksheets (dt==0); skip chart/macro sheets
            if payload[5] == 0:
                sheet_positions.append(_u32(payload, 0))
        elif op == _EOF:
            break
    if sst_segments is not None:
        sst = _parse_sst(sst_segments)
    if not sheet_positions:
        raise UnsupportedXlsError("workbook has no worksheet BOUNDSHEET")

    cells = _parse_sheet(stream, sheet_positions[0], sst, biff5=biff5)
    if not cells:
        return [], []
    n_cols = max(c for _, c in cells) + 1
    n_rows = max(r for r, _ in cells) + 1
    header = [
        str(cells.get((0, c))) if cells.get((0, c)) is not None else f"col{c}"
        for c in range(n_cols)
    ]
    rows: list[tuple[Cell, ...]] = []
    for r in range(1, n_rows):
        row = tuple(cells.get((r, c)) for c in range(n_cols))
        if any(v is not None for v in row):
            rows.append(row)
    return header, rows


# ---------------------------------------------------------------------------
# Test-fixture writer: a minimal but VALID BIFF8-in-CFB emitter, the
# round-trip proof for the reader above (the sandbox ships no Excel
# engine to produce .xls fixtures).  Mirrors xlsx.py's
# write_minimal_xlsx.  str cells → SST+LABELSST, integral floats →
# RK, other floats → NUMBER, bool → BOOLERR; streams under the
# 4096-byte CFB cutoff land in the mini stream (exactly as Excel
# writes them), exercising the reader's miniFAT path; `force_fat=True`
# zero-pads the workbook stream past the cutoff to exercise the
# regular-sector path.
# ---------------------------------------------------------------------------
def _rec(op: int, data: bytes = b"") -> bytes:
    return struct.pack("<HH", op, len(data)) + data


def _emit_cells(
    sheet: bytearray,
    header: list[str],
    rows: list[list[Cell]],
    string_cell,
) -> None:
    """Shared cell-record emitter for both fixture writers: bool →
    BOOLERR, integral-in-range float → RK, other float → NUMBER
    (identical layouts in BIFF5 and BIFF8); strings go through
    `string_cell(r, c, s) -> bytes` (SST+LABELSST in BIFF8, inline
    LABEL in BIFF5)."""
    for r, row in enumerate([list(header)] + [list(x) for x in rows]):
        for c, v in enumerate(row):
            if v is None:
                continue
            if isinstance(v, bool):
                sheet += _rec(
                    _BOOLERR, struct.pack("<HHHBB", r, c, 0, int(v), 0)
                )
            elif isinstance(v, (int, float)):
                fv = float(v)
                if fv.is_integer() and -(2**29) <= int(fv) < 2**29:
                    rk = ((int(fv) << 2) | 2) & 0xFFFFFFFF
                    sheet += _rec(_RK, struct.pack("<HHHI", r, c, 0, rk))
                else:
                    sheet += _rec(_NUMBER, struct.pack("<HHHd", r, c, 0, fv))
            else:
                sheet += string_cell(r, c, str(v))


def _biff_workbook(
    header: list[str], rows: list[list[Cell]]
) -> bytes:
    strings: list[str] = []
    sidx: dict[str, int] = {}

    def isst(s: str) -> int:
        if s not in sidx:
            sidx[s] = len(strings)
            strings.append(s)
        return sidx[s]

    if len(rows) + 1 > 65536:
        # BIFF8 packs row indexes as uint16 — the format itself caps a
        # sheet at 65,536 rows.  Fail with a typed, named error instead
        # of an opaque struct.error deep in the pack loop.
        raise UnsupportedXlsError(
            f"BIFF8 sheets cap at 65,536 rows (got {len(rows) + 1} "
            "including the header); split the data or write .xlsx"
        )
    sheet = bytearray(
        _rec(_BOF, struct.pack("<HHHHII", 0x0600, 0x0010, 0x0DBB, 0x07CC, 0, 0))
    )
    _emit_cells(
        sheet,
        header,
        rows,
        lambda r, c, s: _rec(
            _LABELSST, struct.pack("<HHHI", r, c, 0, isst(s))
        ),
    )
    sheet += _rec(_EOF)

    sst_data = bytearray(struct.pack("<II", len(strings), len(strings)))
    for s in strings:
        if all(ord(ch) < 256 for ch in s):
            sst_data += struct.pack("<HB", len(s), 0) + s.encode("latin-1")
        else:
            sst_data += struct.pack("<HB", len(s), 1) + s.encode("utf-16-le")

    name = b"Sheet1"
    bs_payload = struct.pack("<IBB", 0, 0, 0) + struct.pack(
        "<BB", len(name), 0
    ) + name
    globals_ = bytearray(
        _rec(_BOF, struct.pack("<HHHHII", 0x0600, 0x0005, 0x0DBB, 0x07CC, 0, 0))
    )
    globals_ += _rec(_SST, bytes(sst_data))
    bs_at = len(globals_)
    globals_ += _rec(_BOUNDSHEET, bs_payload)
    globals_ += _rec(_EOF)
    # patch the sheet substream position into BOUNDSHEET.lbPlyPos
    struct.pack_into("<I", globals_, bs_at + 4, len(globals_))
    return bytes(globals_) + bytes(sheet)


def _biff5_workbook(header: list[str], rows: list[list[Cell]]) -> bytes:
    """Minimal BIFF5 'Book' stream (the round-trip fixture for the
    BIFF5 read path): inline LABEL byte strings instead of
    SST/LABELSST; RK/NUMBER/BOOLERR share BIFF8's layouts."""
    if len(rows) + 1 > 16384:
        raise UnsupportedXlsError(
            f"BIFF5 sheets cap at 16,384 rows (got {len(rows) + 1} "
            "including the header)"
        )
    sheet = bytearray(
        _rec(_BOF5, struct.pack("<HHHH", 0x0500, 0x0010, 0, 0))
    )

    def label5(r: int, c: int, s: str) -> bytes:
        raw = s.encode("latin-1")
        return _rec(_LABEL, struct.pack("<HHHH", r, c, 0, len(raw)) + raw)

    _emit_cells(sheet, header, rows, label5)
    sheet += _rec(_EOF)

    name = b"Sheet1"
    bs_payload = struct.pack("<IBB", 0, 0, 0) + struct.pack(
        "<B", len(name)
    ) + name
    globals_ = bytearray(
        _rec(_BOF5, struct.pack("<HHHH", 0x0500, 0x0005, 0, 0))
    )
    bs_at = len(globals_)
    globals_ += _rec(_BOUNDSHEET, bs_payload)
    globals_ += _rec(_EOF)
    struct.pack_into("<I", globals_, bs_at + 4, len(globals_))
    return bytes(globals_) + bytes(sheet)


def _cfb_direntry(
    name: str, typ: int, start: int, size: int, child: int = _FREESECT
) -> bytes:
    raw = name.encode("utf-16-le")
    b = bytearray(128)
    b[0 : len(raw)] = raw
    struct.pack_into("<H", b, 64, len(raw) + 2)
    b[66] = typ
    b[67] = 1  # black
    struct.pack_into("<III", b, 68, _FREESECT, _FREESECT, child)
    struct.pack_into("<I", b, 116, start)
    struct.pack_into("<Q", b, 120, size)
    return bytes(b)


def _pad(b: bytes, mult: int, fill: bytes = b"\x00") -> bytes:
    rem = len(b) % mult
    return b + fill * (mult - rem) if rem else b


def _cfb_wrap(
    workbook: bytes, force_fat: bool = False, stream_name: str = "Workbook"
) -> bytes:
    if force_fat and len(workbook) < 4096:
        workbook = _pad(workbook, 4096)  # trailing zero records: reader stops

    def fat_sectors(entries: list[int], n_sectors: int) -> bytes:
        """`entries` padded with FREESECT to fill n_sectors FAT sectors."""
        total = n_sectors * 128
        return b"".join(
            struct.pack("<I", entries[i] if i < len(entries) else _FREESECT)
            for i in range(total)
        )

    def head(n_fat, first_dir, first_minifat, n_minifat, difat0) -> bytes:
        h = bytearray(512)
        h[0:8] = CFB_SIG
        struct.pack_into("<HH", h, 24, 0x003E, 0x0003)  # minor, major (v3)
        struct.pack_into("<H", h, 28, 0xFFFE)  # little-endian marker
        struct.pack_into("<HH", h, 30, 9, 6)  # 512-byte / 64-byte sectors
        struct.pack_into("<I", h, 44, n_fat)
        struct.pack_into("<I", h, 48, first_dir)
        struct.pack_into("<I", h, 56, 4096)  # mini stream cutoff
        struct.pack_into("<II", h, 60, first_minifat, n_minifat)
        struct.pack_into("<II", h, 68, _ENDOFCHAIN, 0)  # no DIFAT sectors
        for i in range(109):
            struct.pack_into("<I", h, 76 + 4 * i, _FREESECT)
        struct.pack_into("<I", h, 76, difat0)
        return bytes(h)

    if len(workbook) < 4096:
        # mini-stream layout: [dir][miniFAT][mini container…][FAT]
        # (workbook < 4096 bytes → ≤64 mini sectors → one miniFAT and
        # one FAT sector always suffice here)
        mini = _pad(workbook, 64)
        m = len(mini) // 64
        container = _pad(mini, 512)
        k = len(container) // 512
        fat_idx = 2 + k
        directory = (
            _cfb_direntry("Root Entry", 5, 2, len(mini), child=1)
            + _cfb_direntry(stream_name, 2, 0, len(workbook))
            + b"\x00" * 256
        )
        minifat = fat_sectors(list(range(1, m)) + [_ENDOFCHAIN], 1)
        fat = fat_sectors(
            [_ENDOFCHAIN, _ENDOFCHAIN]
            + list(range(3, 2 + k))
            + [_ENDOFCHAIN, _FATSECT],
            1,
        )
        return (
            head(1, 0, 1, 1, fat_idx) + directory + minifat + container + fat
        )

    # regular-sector layout: [workbook…][dir][FAT…].  One FAT sector
    # maps 128 sectors, so big workbooks (>~64 KB) need several — solve
    # n_fat = ceil((k + 1 + n_fat) / 128) by fixed point (the header's
    # 109 DIFAT slots bound the writer at ~7 MB, far past any fixture).
    wb = _pad(workbook, 512)
    k = len(wb) // 512
    n_fat = 1
    while n_fat * 128 < k + 1 + n_fat:
        n_fat += 1
    if n_fat > 109:
        raise ValueError(
            f"workbook stream too large for this writer ({len(workbook)} "
            "bytes needs DIFAT sectors beyond the header's 109 slots)"
        )
    directory = (
        _cfb_direntry("Root Entry", 5, _ENDOFCHAIN, 0, child=1)
        + _cfb_direntry(stream_name, 2, 0, len(workbook))
        + b"\x00" * 256
    )
    fat = fat_sectors(
        list(range(1, k)) + [_ENDOFCHAIN, _ENDOFCHAIN]
        + [_FATSECT] * n_fat,
        n_fat,
    )
    h = head(n_fat, k, _ENDOFCHAIN, 0, k + 1)
    # DIFAT slots 0..n_fat-1 point at the FAT sectors (k+1 .. k+n_fat)
    h = bytearray(h)
    for i in range(n_fat):
        struct.pack_into("<I", h, 76 + 4 * i, k + 1 + i)
    return bytes(h) + wb + directory + fat


def write_minimal_xls(
    path: str,
    header: list[str],
    rows: list[list[Cell]],
    force_fat: bool = False,
    biff5: bool = False,
) -> None:
    wb = _biff5_workbook(header, rows) if biff5 else _biff_workbook(header, rows)
    with open(path, "wb") as fh:
        fh.write(
            _cfb_wrap(wb, force_fat, "Book" if biff5 else "Workbook")
        )

