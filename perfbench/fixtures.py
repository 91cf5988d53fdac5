"""Byte-level builders for the hostile-file corpus: OOXML workbooks (.xlsx),
OLE2/BIFF8 workbooks (.xls) and PDFs with positioned text tables.

Standard library only. The container layouts follow the repo's fixture
generators (dev/make_xlsx_fixture.py, dev/make_xls_fixture.py,
dev/make_pdf_fixture.py), generalised from fixed fixtures to arbitrary
sheets and tables so a seeded generator can drive them.
"""
import io
import struct
import zipfile
import zlib
from xml.sax.saxutils import escape

# ---------------------------------------------------------------- OOXML --

_CT = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
       '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
       '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
       '<Default Extension="xml" ContentType="application/xml"/>'
       '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
       '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
       '{overrides}</Types>')
_ROOT_RELS = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
              '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
              '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
              '</Relationships>')
_WB = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
       '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
       'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
       '<sheets>{sheets}</sheets></workbook>')
_WB_RELS = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '{rels}<Relationship Id="rIdSS" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
            '</Relationships>')


def col_letter(i):
    s = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        s = chr(ord("A") + rem) + s
    return s


def xlsx_bytes(sheets, bad_row_ref=False):
    """sheets: [(name, rows)], a row a list of cells; a cell is a str
    (shared string), an int/float (numeric cell) or None (omitted).
    bad_row_ref writes the second row's `r` attribute as a non-number."""
    shared, index = [], {}

    def sid(s):
        if s not in index:
            index[s] = len(shared)
            shared.append(s)
        return index[s]

    sheet_xml = []
    for si, (_, rows) in enumerate(sheets):
        body = []
        for ri, row in enumerate(rows, start=1):
            cells = []
            for ci, cell in enumerate(row):
                if cell is None:
                    continue
                ref = f"{col_letter(ci)}{ri}"
                if isinstance(cell, str):
                    cells.append(f'<c r="{ref}" t="s"><v>{sid(cell)}</v></c>')
                else:
                    cells.append(f'<c r="{ref}"><v>{cell}</v></c>')
            rattr = f"{ri}x" if (bad_row_ref and si == 0 and ri == 2) else str(ri)
            body.append(f'<row r="{rattr}">' + "".join(cells) + "</row>")
        sheet_xml.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            "<sheetData>" + "".join(body) + "</sheetData></worksheet>")

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CT.format(overrides="".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(len(sheets)))))
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", _WB.format(sheets="".join(
            f'<sheet name="{escape(name)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
            for i, (name, _) in enumerate(sheets))))
        z.writestr("xl/_rels/workbook.xml.rels", _WB_RELS.format(rels="".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets)))))
        z.writestr("xl/sharedStrings.xml",
                   '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                   f'<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="{len(shared)}" uniqueCount="{len(shared)}">'
                   + "".join(f"<si><t xml:space=\"preserve\">{escape(s)}</t></si>" for s in shared)
                   + "</sst>")
        for i, xml in enumerate(sheet_xml):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", xml)
    return buf.getvalue()


def truncate_zip_mid_entry(data):
    """Cut a zip inside the compressed bytes of its last entry, so a
    streaming reader runs out of input while inflating (not at an entry
    boundary, where it would just see fewer parts)."""
    with zipfile.ZipFile(io.BytesIO(data)) as z:
        last = max(z.infolist(), key=lambda i: i.header_offset)
    start = last.header_offset + 30 + len(last.filename.encode()) + len(last.extra)
    return data[:start + max(1, last.compress_size // 2)]


# ------------------------------------------------------------ OLE2/BIFF8 --

_SECT = 512
_ENDOFCHAIN = 0xFFFFFFFE
_FREESECT = 0xFFFFFFFF
_FATSECT = 0xFFFFFFFD


def _rec(rid, data):
    return struct.pack("<HH", rid, len(data)) + data


def _bof(dt):
    return _rec(0x0809, struct.pack("<HHHHII", 0x0600, dt, 0x0DBB, 0x07CC, 0, 0x0600))


_EOF = _rec(0x000A, b"")


def _boundsheet(pos, name):
    nm = name.encode("ascii")
    return _rec(0x0085, struct.pack("<IBBBB", pos, 0, 0, len(nm), 0) + nm)


def _sst(strings):
    data = struct.pack("<II", len(strings), len(strings))
    for s in strings:
        data += struct.pack("<HB", len(s), 1) + s.encode("utf-16-le")
    return _rec(0x00FC, data)


def _labelsst(r, c, i):
    return _rec(0x00FD, struct.pack("<HHHI", r, c, 0, i))


def _number(r, c, v):
    return _rec(0x0203, struct.pack("<HHHd", r, c, 0, v))


def _workbook_stream(sst_bytes, sheets):
    head = _bof(0x0005) + sst_bytes

    def assemble(positions):
        g = head
        for (name, _), pos in zip(sheets, positions):
            g += _boundsheet(pos, name)
        return g + _EOF

    positions, acc = [], len(assemble([0] * len(sheets)))
    for _, body in sheets:
        positions.append(acc)
        acc += len(body)
    stream = assemble(positions)
    for _, body in sheets:
        stream += body
    return stream


def _dirent(name, objtype, start, size, root_child=-1):
    nm = name.encode("utf-16-le") + b"\x00\x00"
    e = nm + b"\x00" * (64 - len(nm))
    e += struct.pack("<HBB", len(nm), objtype, 1)
    e += struct.pack("<iii", -1, -1, root_child)
    e += b"\x00" * 36
    e += struct.pack("<III", start, size, 0)
    return e


def _header(first_dir, fat_sectors, first_minifat=_ENDOFCHAIN, num_minifat=0):
    h = bytes([0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1]) + b"\x00" * 16
    h += struct.pack("<HHHH", 0x3E, 0x03, 0xFFFE, 9) + struct.pack("<H", 6) + b"\x00" * 6
    h += struct.pack("<III", 0, len(fat_sectors), first_dir)
    h += struct.pack("<II", 0, 4096)
    h += struct.pack("<II", first_minifat, num_minifat)
    h += struct.pack("<II", _ENDOFCHAIN, 0)
    h += struct.pack("<109I", *(list(fat_sectors) + [_FREESECT] * (109 - len(fat_sectors))))
    return h


def _pad(b):
    return b + b"\x00" * (-len(b) % _SECT)


def _fat_sector(entries):
    return struct.pack(f"<{_SECT // 4}I", *(list(entries) + [_FREESECT] * (_SECT // 4 - len(entries))))


def _cfb(stream):
    """Workbook stream in FAT sectors (padded to the 4096-byte cutoff, so
    no mini stream); one FAT sector covers streams up to ~60 KB."""
    stream = stream + b"\x00" * max(0, 4096 - len(stream))
    body = _pad(stream)
    n = len(body) // _SECT
    assert n + 2 <= _SECT // 4, "workbook too large for a single FAT sector"
    fat = [i + 1 for i in range(n - 1)] + [_ENDOFCHAIN, _ENDOFCHAIN, _FATSECT]
    d = (_dirent("Root Entry", 5, _ENDOFCHAIN, 0, root_child=1)
         + _dirent("Workbook", 2, 0, len(stream)) + b"\x00" * 256)
    return _header(n, [n + 1]) + body + _pad(d) + _fat_sector(fat)


def xls_bytes(sheets):
    """Same sheet model as xlsx_bytes (str → LABELSST, number → NUMBER)."""
    strings, index = [], {}
    bodies = []
    for name, rows in sheets:
        body = _bof(0x0010)
        for r, row in enumerate(rows):
            for c, cell in enumerate(row):
                if cell is None:
                    continue
                if isinstance(cell, str):
                    if cell not in index:
                        index[cell] = len(strings)
                        strings.append(cell)
                    body += _labelsst(r, c, index[cell])
                else:
                    body += _number(r, c, float(cell))
        bodies.append((name, body + _EOF))
    return _cfb(_workbook_stream(_sst(strings), bodies))


# ------------------------------------------------------------------ PDF --

def _pdf_text(s):
    try:
        out = s.encode("latin-1")
        for ch in (b"\\", b"(", b")"):
            out = out.replace(ch, b"\\" + ch)
        return b"(" + out + b")"
    except UnicodeEncodeError:
        return b"<" + (b"\xfe\xff" + s.encode("utf-16-be")).hex().upper().encode() + b">"


def pdf_table_bytes(pages):
    """pages: list of pages, each a list of (y, [(x, text), ...]) rows —
    one Tm-positioned Tj per cell, FlateDecode content streams, classic
    xref table."""
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>", 90:
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"}
    kids = []
    for i, rows in enumerate(pages):
        page_num, content_num = 3 + 2 * i, 4 + 2 * i
        kids.append(b"%d 0 R" % page_num)
        ops = [b"BT", b"/F1 10 Tf"]
        for y, cells in rows:
            for x, text in cells:
                ops.append(b"1 0 0 1 %g %g Tm" % (x, y))
                ops.append(_pdf_text(text) + b" Tj")
        ops.append(b"ET")
        data = zlib.compress(b"\n".join(ops), 6)
        objs[page_num] = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                          b"/Resources << /Font << /F1 90 0 R >> >> /Contents %d 0 R >>"
                          % content_num)
        objs[content_num] = (b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(data)
                             + data + b"\nendstream")
    objs[2] = b"<< /Type /Pages /Kids [ " + b" ".join(kids) + b" ] /Count %d >>" % len(pages)
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref = len(out)
    nmax = max(objs) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % nmax
    for num in range(1, nmax):
        out += (b"%010d 00000 n \n" % offsets[num]) if num in offsets else b"0000000000 65535 f \n"
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (nmax, xref)
    return bytes(out)
