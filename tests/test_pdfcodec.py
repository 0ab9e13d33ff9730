"""PDF text extraction: pure-stdlib codec against hand-built PDFs.

Fixtures are WRITTEN here (objects, FlateDecode content streams, xref)
so the extractor is checked against exact expected text, matching the
repo's encode-your-own-fixtures pattern (PNG/GIF/JPEG/WAV)."""

import zlib

import pytest

from littletable_spark import Table
from littletable_spark.functions.pdfcodec import extract_pdf_text


def _make_pdf(
    page_streams: list[bytes],
    compress: bool = True,
    info: bytes | None = None,
) -> bytes:
    """Minimal valid PDF: catalog, page tree, one page + content stream
    per entry. The xref table is written correctly even though the
    extractor scans objects linearly. ``info`` adds a document
    information dictionary body and a trailer ``/Info`` reference."""
    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    page_ids = []
    content_ids = []
    for stream in page_streams:
        data = zlib.compress(stream) if compress else stream
        filt = b"/Filter /FlateDecode " if compress else b""
        cid = add(
            b"<< " + filt + b"/Length %d >>\nstream\n" % len(data)
            + data
            + b"\nendstream"
        )
        content_ids.append(cid)
        page_ids.append(None)  # placeholder, filled after pages obj
    pages_id = add(b"")  # placeholder body set below
    for i, cid in enumerate(content_ids):
        pid = add(
            b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R "
            b"/MediaBox [0 0 612 792] >>" % (pages_id, cid)
        )
        page_ids[i] = pid
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    objs[pages_id - 1] = (
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % len(page_ids)
    )
    catalog_id = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)
    info_id = add(info) if info is not None else None

    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    info_entry = b" /Info %d 0 R" % info_id if info_id else b""
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R%s >>\nstartxref\n%d\n%%%%EOF"
        % (len(objs) + 1, catalog_id, info_entry, xref_at)
    )
    return bytes(out)


def _make_pdf_objstm(page_streams: list[bytes]) -> bytes:
    """Modern (PDF 1.5+) layout: page dicts, page tree, and catalog
    live compressed inside a /Type /ObjStm object stream, with a
    cross-reference STREAM (/Type /XRef, type-2 entries) instead of an
    xref table — the default output shape of Chrome print-to-PDF,
    LibreOffice, and current TeX engines. Content streams stay
    top-level (spec 7.5.7 forbids streams inside an ObjStm)."""
    n_pages = len(page_streams)
    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}

    def emit(num: int, body: bytes) -> None:
        offsets[num] = len(out)
        out.extend(b"%d 0 obj\n" % num + body + b"\nendobj\n")

    # top-level content streams: objects 1..P
    for i, stream in enumerate(page_streams):
        data = zlib.compress(stream)
        emit(
            i + 1,
            b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(data)
            + data
            + b"\nendstream",
        )

    # compressed objects: pages tree, page dicts, catalog
    objstm_num = n_pages + 1
    pages_id = n_pages + 2
    page_ids = [pages_id + 1 + i for i in range(n_pages)]
    catalog_id = pages_id + 1 + n_pages
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    packed: list[tuple[int, bytes]] = [
        (
            pages_id,
            b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages,
        )
    ]
    for i, pid in enumerate(page_ids):
        packed.append(
            (
                pid,
                b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R "
                b"/MediaBox [0 0 612 792] >>" % (pages_id, i + 1),
            )
        )
    packed.append((catalog_id, b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id))

    bodies = bytearray()
    header_parts = []
    for num, body in packed:
        header_parts.append(b"%d %d" % (num, len(bodies)))
        bodies += body + b" "
    header = b" ".join(header_parts) + b"\n"
    stm = zlib.compress(bytes(header) + bytes(bodies))
    emit(
        objstm_num,
        b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode "
        b"/Length %d >>\nstream\n" % (len(packed), len(header), len(stm))
        + stm
        + b"\nendstream",
    )

    # cross-reference stream: type-1 rows for top-level objects,
    # type-2 rows (objstm number + index) for the compressed ones
    xref_num = catalog_id + 1
    rows = bytearray()
    rows += bytes([0]) + (0).to_bytes(2, "big") + (65535).to_bytes(2, "big")
    for num in range(1, objstm_num + 1):
        rows += bytes([1]) + offsets[num].to_bytes(2, "big") + (0).to_bytes(2, "big")
    for idx in range(len(packed)):
        rows += bytes([2]) + objstm_num.to_bytes(2, "big") + idx.to_bytes(2, "big")
    xref_at = len(out)  # placeholder row for the xref stream itself
    rows += bytes([1]) + xref_at.to_bytes(2, "big") + (0).to_bytes(2, "big")
    xdata = zlib.compress(bytes(rows))
    emit(
        xref_num,
        b"<< /Type /XRef /Size %d /W [1 2 2] /Root %d 0 R "
        b"/Filter /FlateDecode /Length %d >>\nstream\n"
        % (xref_num + 1, catalog_id, len(xdata))
        + xdata
        + b"\nendstream",
    )
    out += b"startxref\n%d\n%%%%EOF" % xref_at
    return bytes(out)


def _text_stream(lines: list[bytes]) -> bytes:
    body = b"BT /F1 12 Tf 72 720 Td\n"
    for i, line in enumerate(lines):
        if i:
            body += b"0 -14 Td\n"
        body += b"(" + line + b") Tj\n"
    return body + b"ET"


def test_simple_lines_and_pages():
    pdf = _make_pdf(
        [
            _text_stream([b"Hello", b"World"]),
            _text_stream([b"Page two"]),
        ]
    )
    assert extract_pdf_text(pdf) == "Hello\nWorld\fPage two"


def test_uncompressed_stream():
    pdf = _make_pdf([_text_stream([b"raw bytes"])], compress=False)
    assert extract_pdf_text(pdf) == "raw bytes"


def test_tj_array_kerning_becomes_word_gap():
    stream = b"BT 72 720 Td [(Hel) -50 (lo) -300 (world)] TJ ET"
    assert extract_pdf_text(_make_pdf([stream])) == "Hello world"


def test_string_escapes_octal_nesting_hex():
    stream = (
        b"BT 72 720 Td "
        b"(paren \\(in\\) octal \\101 back\\\\slash) Tj "
        b"0 -14 Td (nested (balanced) parens) Tj "
        b"0 -14 Td <48656C6C6F> Tj "
        b"ET"
    )
    got = extract_pdf_text(_make_pdf([stream]))
    assert got == (
        "paren (in) octal A back\\slash\nnested (balanced) parens\nHello"
    )


def test_utf16_string_and_quote_operator():
    utf16 = "élève 中文".encode("utf-16-be")
    stream = (
        b"BT 72 720 Td (first) Tj (\xfe\xff" + utf16.replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(").replace(b")", b"\\)") + b") ' ET"
    )
    got = extract_pdf_text(_make_pdf([stream]))
    assert got == "first\nélève 中文"


def test_tm_y_move_newline():
    stream = (
        b"BT 1 0 0 1 72 720 Tm (one) Tj 1 0 0 1 200 720 Tm (two) Tj "
        b"1 0 0 1 72 700 Tm (three) Tj ET"
    )
    # same-y Tm does NOT break the line; y move does
    assert extract_pdf_text(_make_pdf([stream])) == "onetwo\nthree"


def _make_pdf_with_form(
    page_stream: bytes, forms: dict[bytes, bytes], indirect_resources=False
) -> bytes:
    """One page whose /Resources /XObject maps names to Form XObjects;
    the page stream invokes them via `Do`."""
    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    form_ids = {}
    for name, stream in forms.items():
        data = zlib.compress(stream)
        form_ids[name] = add(
            b"<< /Type /XObject /Subtype /Form /Filter /FlateDecode "
            b"/Length %d /BBox [0 0 612 792] >>\nstream\n" % len(data)
            + data + b"\nendstream"
        )
    cdata = zlib.compress(page_stream)
    cid = add(
        b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(cdata)
        + cdata + b"\nendstream"
    )
    xobj = b"<< " + b" ".join(
        b"/%s %d 0 R" % (nm, oid) for nm, oid in form_ids.items()
    ) + b" >>"
    if indirect_resources:
        rid = add(b"<< /XObject " + xobj + b" >>")
        resources = b"%d 0 R" % rid
    else:
        resources = b"<< /XObject " + xobj + b" >>"
    pages_id = add(b"")  # placeholder
    pid = add(
        b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R /Resources "
        % (pages_id, cid) + resources + b" >>"
    )
    objs[pages_id - 1] = b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % pid
    add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, start=1):
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    out += b"%%EOF"
    return bytes(out)


def test_form_xobject_text_extracts():
    """Text painted through Form XObjects (Do operator) — letterheads,
    stamped layers — extracts instead of silently dropping."""
    form = _text_stream([b"FORM HEADER"])
    page = (
        b"/Fm1 Do\nBT 72 700 Td (body text) Tj ET\n/Fm1 Do"
    )
    pdf = _make_pdf_with_form(page, {b"Fm1": form})
    got = extract_pdf_text(pdf)
    assert got.count("FORM HEADER") == 2
    assert "body text" in got


def test_form_xobject_nested_and_indirect_resources():
    inner = _text_stream([b"deep"])
    # outer form invokes the inner one through its own resources;
    # build manually: outer referencing /Fm2
    outer = b"BT 10 10 Td (outer) Tj ET /Fm2 Do"
    # assemble with both forms; outer's resources added via a rewrite
    pdf = _make_pdf_with_form(
        b"/Fm1 Do", {b"Fm1": outer, b"Fm2": inner}, indirect_resources=True
    )
    # give the OUTER form object the shared /XObject resources so its
    # /Fm2 Do resolves (inject /Resources N 0 R into the form dict)
    pdf = pdf.replace(
        b"/Subtype /Form /Filter", b"/Subtype /Form /Resources 4 0 R /Filter", 1
    )
    got = extract_pdf_text(pdf)
    assert "outer" in got and "deep" in got


def test_form_xobject_cycle_is_bounded():
    """A self-invoking form must terminate (cycle guard), keeping its
    own text once."""
    selfref = b"BT 5 5 Td (loop) Tj ET /Fm1 Do"
    pdf = _make_pdf_with_form(b"/Fm1 Do", {b"Fm1": selfref})
    # the form needs resources naming ITSELF: inject a /Resources dict
    pdf = pdf.replace(
        b"/Subtype /Form /Filter",
        b"/Subtype /Form /Resources << /XObject << /Fm1 1 0 R >> >> /Filter",
        1,
    )
    got = extract_pdf_text(pdf)
    assert got.count("loop") == 1


def test_object_stream_layout_extracts():
    """PDF 1.5 ObjStm layout (page dicts compressed inside an object
    stream, xref stream): previously returned "" silently."""
    pdf = _make_pdf_objstm(
        [
            _text_stream([b"Hello", b"World"]),
            _text_stream([b"Page two"]),
        ]
    )
    assert b"/ObjStm" in pdf and b"/Type /XRef" in pdf
    # the page dictionaries must NOT be findable by the linear scan
    assert b"/Type /Page /Parent" not in pdf
    assert extract_pdf_text(pdf) == "Hello\nWorld\fPage two"


def test_object_stream_single_page_kerning():
    stream = b"BT 72 720 Td [(Obj) -300 (Stm)] TJ ET"
    assert extract_pdf_text(_make_pdf_objstm([stream])) == "Obj Stm"


def test_zero_page_pdf_raises_instead_of_silent_empty():
    """Objects present but no page dict anywhere → ValueError so the
    on_error audit trail records the loss (was: silent "")."""
    pdf = (
        b"%PDF-1.5\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"%%EOF"
    )
    with pytest.raises(ValueError, match="no page objects"):
        extract_pdf_text(pdf)


def test_truncated_objstm_header_raises():
    data = zlib.compress(b"7 0\n<< /Type /Page >>")  # claims N=2, has 1
    pdf = (
        b"%PDF-1.5\n1 0 obj\n<< /Type /ObjStm /N 2 /First 4 "
        b"/Filter /FlateDecode /Length " + str(len(data)).encode()
        + b" >>\nstream\n" + data + b"\nendstream\nendobj\n%%EOF"
    )
    with pytest.raises(ValueError, match="object stream"):
        extract_pdf_text(pdf)


def test_objstm_pdf_through_extract_text_operator(spark):
    """The Spark path: a modern-layout PDF extracts (not silently
    empty) and a zero-page PDF NULLs under on_error='null'."""
    from littletable_spark.operators.multimodal import extract_text

    good = _make_pdf_objstm([_text_stream([b"modern layout"])])
    no_pages = b"%PDF-1.5\n1 0 obj\n<< /Type /Catalog >>\nendobj\n%%EOF"
    t = Table("blobs", spark=spark)
    t.insert_many([{"id": 0, "blob": good}, {"id": 1, "blob": no_pages}])
    out = {r.id: r for r in extract_text(t, "blob", "id", on_error="null")}
    assert out[0].text == "modern layout"
    assert out[1].text is None


def test_rejections():
    with pytest.raises(ValueError, match="not a PDF"):
        extract_pdf_text(b"plain text")
    enc = _make_pdf([_text_stream([b"x"])]).replace(
        b"/Root", b"/Encrypt 9 0 R /Root"
    )
    with pytest.raises(ValueError, match="encrypted"):
        extract_pdf_text(enc)
    with pytest.raises(ValueError, match="no PDF objects"):
        extract_pdf_text(b"%PDF-1.4\ngarbage")


def test_extract_text_operator_end_to_end(spark):
    """The Spark operator: PDFs extract, UTF-8 passes through, junk
    NULLs under on_error='null', and the output feeds the text ops."""
    from littletable_spark.operators.multimodal import extract_text

    pdf = _make_pdf([_text_stream([b"From a PDF", b"second line"])])
    t = Table("blobs", spark=spark)
    t.insert_many(
        [
            {"id": 0, "blob": pdf},
            {"id": 1, "blob": "plain utf-8 text".encode()},
            # NUL-laden, no BOM: binary junk under the decode ladder
            {"id": 2, "blob": b"\x7fELF\x02\x01\x01\x00\x00bad"},
        ]
    )
    out = {r.id: r for r in extract_text(t, "blob", "id", on_error="null")}
    assert out[0].text == "From a PDF\nsecond line"
    assert out[0].n_chars == len(out[0].text)
    assert out[1].text == "plain utf-8 text"
    assert out[2].text is None and out[2].n_chars is None
    with pytest.raises(Exception):
        extract_text(t, "blob", "id").df.collect()
    # downstream composition: token stats over the extracted text
    from littletable_spark.operators.textops import token_stats

    stats = token_stats(
        Table.from_df(
            extract_text(t, "blob", "id", on_error="null").df.where(
                "text IS NOT NULL"
            ),
            name="texts",
        ),
        "text",
        "id",
    )
    got = {r.id: r.n_tokens for r in stats}
    assert got[0] == 5 and got[1] == 3


# ------------------------------------------------------------------ #
# ToUnicode CMaps (subsetted / CID fonts)


def _make_pdf_cid(
    page_stream: bytes,
    fonts: dict[bytes, bytes | None],
    form: tuple[bytes, bytes, bytes] | None = None,
) -> bytes:
    """One page whose /Resources /Font maps names to fonts; each font
    value is a ToUnicode CMap stream body (None = simple font without
    one). ``form`` = (form_name, form_stream, form_cmap) adds a Form
    XObject carrying its OWN /F1 font+CMap."""
    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    def add_font(spec) -> int:
        """spec: None = plain font; bytes = ToUnicode CMap stream;
        ("enc", dict_bytes) = /Encoding dictionary (Differences/base);
        ("both", cmap_bytes, dict_bytes) = ToUnicode + Encoding."""
        if spec is None:
            return add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
        if isinstance(spec, tuple) and spec[0] == "enc":
            return add(
                b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
                b"/Encoding " + spec[1] + b" >>"
            )
        cmap = spec[1] if isinstance(spec, tuple) else spec
        data = zlib.compress(cmap)
        sid = add(
            b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(data)
            + data + b"\nendstream"
        )
        extra = b"/Encoding " + spec[2] + b" " if isinstance(spec, tuple) else b""
        return add(
            b"<< /Type /Font /Subtype /Type0 /BaseFont /ABCDEF+Subset "
            + extra + b"/ToUnicode %d 0 R >>" % sid
        )

    font_ids = {nm: add_font(cm) for nm, cm in fonts.items()}
    fdict = b"<< " + b" ".join(
        b"/%s %d 0 R" % (nm, oid) for nm, oid in font_ids.items()
    ) + b" >>"
    extra_res = b""
    if form is not None:
        fname, fstream, fcmap = form
        ffid = add_font(fcmap)
        fdata = zlib.compress(fstream)
        fxid = add(
            b"<< /Type /XObject /Subtype /Form /Filter /FlateDecode "
            b"/Length %d /BBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >> >> >>\nstream\n"
            % (len(fdata), ffid)
            + fdata + b"\nendstream"
        )
        extra_res = b" /XObject << /%s %d 0 R >>" % (fname, fxid)
    cdata = zlib.compress(page_stream)
    cid = add(
        b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(cdata)
        + cdata + b"\nendstream"
    )
    pages_id = add(b"")
    pid = add(
        b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R /Resources "
        b"<< /Font " % (pages_id, cid) + fdict + extra_res + b" >> >>"
    )
    objs[pages_id - 1] = b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % pid
    add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, start=1):
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    out += b"%%EOF"
    return bytes(out)


_CMAP_2B = b"""/CIDInit /ProcSet findresource begin
12 dict begin begincmap
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
3 beginbfchar
<0001> <0048>
<0002> <0069>
<0003> <00660069>
endbfchar
2 beginbfrange
<0010> <0012> <0041>
<0020> <0021> [<0058> <0059>]
endbfrange
endcmap end end
"""


def test_tounicode_bfchar_and_multiunit():
    """2-byte CIDs map through bfchar; a multi-code-unit destination
    (the fi ligature) expands to two characters."""
    page = b"BT /F1 12 Tf <000100020003> Tj ET"
    pdf = _make_pdf_cid(page, {b"F1": _CMAP_2B})
    assert extract_pdf_text(pdf) == "Hifi"


def test_tounicode_bfrange_contiguous_and_array():
    page = b"BT /F1 12 Tf <001000110012> Tj <00200021> Tj ET"
    pdf = _make_pdf_cid(page, {b"F1": _CMAP_2B})
    assert extract_pdf_text(pdf) == "ABCXY"


def test_tounicode_font_switch_and_fallback():
    """Tf switches the active CMap per string; a simple font without
    ToUnicode falls back to Latin-1; unmapped-but-in-codespace CIDs
    drop instead of emitting mojibake."""
    page = (
        b"BT /F1 12 Tf <0001> Tj "
        b"/F2 12 Tf (plain) Tj "
        b"/F1 12 Tf <0002EEEE0001> Tj ET"   # EEEE unmapped -> dropped
    )
    pdf = _make_pdf_cid(page, {b"F1": _CMAP_2B, b"F2": None})
    assert extract_pdf_text(pdf) == "HplainiH"


def test_tounicode_one_byte_codes():
    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"2 beginbfchar\n<41> <0061>\n<42> <0062>\nendbfchar\n"
        b"1 beginbfrange\n<50> <52> <0070>\nendbfrange\n"
        b"endcmap\n"
    )
    page = b"BT /F1 12 Tf (AB) Tj <505152> Tj ET"
    pdf = _make_pdf_cid(page, {b"F1": cmap})
    assert extract_pdf_text(pdf) == "abpqr"


def test_tounicode_tj_array_and_quote():
    """CMap decoding applies inside TJ arrays and the quote operator."""
    page = (
        b"BT /F1 12 Tf [<0001> -250 <0002>] TJ ET\n"
        b"BT /F1 12 Tf <0003> ' ET"
    )
    pdf = _make_pdf_cid(page, {b"F1": _CMAP_2B})
    assert extract_pdf_text(pdf) == "H i\nfi"


def test_tounicode_form_xobject_own_font():
    """A Form XObject's own /F1 (different CMap) must not leak into —
    or inherit from — the page's /F1."""
    form_cmap = (
        b"begincmap\n1 begincodespacerange\n<0000> <FFFF>\n"
        b"endcodespacerange\n1 beginbfchar\n<0001> <005A>\nendbfchar\nendcmap\n"
    )
    form = b"BT /F1 12 Tf <0001> Tj ET"        # Z under the form's map
    page = b"BT /F1 12 Tf <0001> Tj ET /Fm1 Do"  # H under the page's map
    pdf = _make_pdf_cid(
        page, {b"F1": _CMAP_2B}, form=(b"Fm1", form, form_cmap)
    )
    assert extract_pdf_text(pdf) == "HZ"


def test_tounicode_persists_across_bt_et():
    """Text state (the active font) survives ET/BT boundaries."""
    page = b"BT /F1 12 Tf <0001> Tj ET BT <0002> Tj ET"
    pdf = _make_pdf_cid(page, {b"F1": _CMAP_2B})
    assert extract_pdf_text(pdf) == "Hi"


def test_differences_encoding_remap():
    """Subsetted Type1 with /Differences and no ToUnicode: bytes map
    through glyph names (letters by own name, spelled punctuation,
    typographic names, uniXXXX)."""
    enc = (
        b"<< /Type /Encoding /Differences "
        b"[ 1 /H /e /l 5 /o 10 /space /emdash /fi /uni0041 ] >>"
    )
    page = b"BT /F1 12 Tf (\x01\x02\x03\x03\x05\x0a\x0b\x0c\x0d) Tj ET"
    pdf = _make_pdf_cid(page, {b"F1": ("enc", enc)})
    assert extract_pdf_text(pdf) == "Hello —ﬁA"


def test_winansi_base_encoding():
    """/WinAnsiEncoding: the 0x80-0x9F cp1252 range (smart quotes,
    euro) decodes correctly, unlike Latin-1."""
    enc = b"/WinAnsiEncoding"
    page = b"BT /F1 12 Tf (\x93Hi\x94 \x80) Tj ET"
    pdf = _make_pdf_cid(page, {b"F1": ("enc", enc)})
    assert extract_pdf_text(pdf) == "“Hi” €"


def test_differences_with_winansi_base():
    """Unmapped bytes fall back to the base encoding named in the
    /Encoding dict."""
    enc = (
        b"<< /BaseEncoding /WinAnsiEncoding /Differences [ 1 /Euro ] >>"
    )
    page = b"BT /F1 12 Tf (\x01 ok \x93q\x94) Tj ET"
    pdf = _make_pdf_cid(page, {b"F1": ("enc", enc)})
    assert extract_pdf_text(pdf) == "€ ok “q”"


def test_tounicode_wins_over_differences():
    enc = b"<< /Differences [ 1 /Z ] >>"
    pdf = _make_pdf_cid(
        b"BT /F1 12 Tf <0001> Tj ET",
        {b"F1": ("both", _CMAP_2B, enc)},
    )
    assert extract_pdf_text(pdf) == "H"  # CMap, not /Z


# ------------------------------------------------------------------ #
# encrypted PDFs (ISO 32000 §7.6 standard security handler)


def _alg2_file_key(user_pw, o_entry, p, id0, r, keylen):
    """Test-side Algorithm 2 (independent of the prod module)."""
    import hashlib
    import struct

    from littletable_spark.functions.pdfcrypt import PAD

    h = hashlib.md5()
    h.update((user_pw + PAD)[:32])
    h.update(o_entry)
    h.update(struct.pack("<i", p))
    h.update(id0)
    d = h.digest()
    if r >= 3:
        for _ in range(50):
            d = hashlib.md5(d[:keylen]).digest()
    return d[:keylen]


def _make_encrypted_pdf(
    text=b"Secret page text",
    *,
    v=2,
    r=3,
    length=128,
    aes=False,
    user_pw=b"",
    owner_pw=b"own3r",
):
    """Write a one-page PDF encrypted with the standard handler:
    /O per Algorithm 3, /U per Algorithm 4/5, content stream
    encrypted with the per-object key (Algorithm 1)."""
    import hashlib
    import struct
    import zlib

    from littletable_spark.functions.pdfcrypt import (
        PAD,
        aes128_cbc_encrypt,
        rc4,
    )

    id0 = bytes(range(16))
    p = -44
    keylen = 5 if r == 2 else length // 8

    # Algorithm 3: /O entry
    d = hashlib.md5((owner_pw + PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            d = hashlib.md5(d[:keylen]).digest()
    okey = d[:keylen]
    o_entry = rc4(okey, (user_pw + PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            o_entry = rc4(bytes(b ^ i for b in okey), o_entry)

    key = _alg2_file_key(user_pw, o_entry, p, id0, r, keylen)

    # Algorithm 4 / 5: /U entry
    if r == 2:
        u_entry = rc4(key, PAD)
    else:
        d = hashlib.md5(PAD + id0).digest()
        d = rc4(key, d)
        for i in range(1, 20):
            d = rc4(bytes(b ^ i for b in key), d)
        u_entry = d + b"\x00" * 16

    def objkey(num, gen):
        h = hashlib.md5()
        h.update(key)
        h.update(struct.pack("<I", num)[:3])
        h.update(struct.pack("<I", gen)[:2])
        if aes:
            h.update(b"sAlT")
        return h.digest()[: min(keylen + 5, 16)]

    def enc(num, data):
        if aes:
            return aes128_cbc_encrypt(objkey(num, 0), bytes(range(16)), data)
        return rc4(objkey(num, 0), data)

    stream_plain = zlib.compress(b"BT /F1 12 Tf (" + text + b") Tj ET")
    stream = enc(1, stream_plain)

    cf = b""
    if v == 4:
        cfm = b"/AESV2" if aes else b"/V2"
        cf = (
            b"/CF << /StdCF << /CFM " + cfm + b" /Length %d >> >> "
            b"/StmF /StdCF /StrF /StdCF " % (length // 8)
        )
    objs = [
        b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(stream)
        + stream + b"\nendstream",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 1 0 R "
        b"/MediaBox [0 0 612 792] >>",
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Filter /Standard /V %d /R %d /Length %d " % (v, r, length)
        + cf
        + b"/O <" + o_entry.hex().encode() + b"> "
        + b"/U <" + u_entry.hex().encode() + b"> "
        + b"/P %d >>" % p,
    ]
    out = bytearray(b"%PDF-1.6\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 4 0 R /Encrypt 5 0 R /ID [<"
        % (len(objs) + 1)
        + id0.hex().encode() + b"> <" + id0.hex().encode() + b">] >>\n"
        b"startxref\n%d\n%%%%EOF" % xref_at
    )
    return bytes(out)


def test_encrypted_rc4_40bit():
    pdf = _make_encrypted_pdf(b"Forty bit secret", v=1, r=2, length=40)
    assert extract_pdf_text(pdf) == "Forty bit secret"


def test_encrypted_rc4_128bit():
    pdf = _make_encrypted_pdf(b"Stronger RC4 secret", v=2, r=3, length=128)
    assert extract_pdf_text(pdf) == "Stronger RC4 secret"


def test_encrypted_rc4_v4_crypt_filter():
    pdf = _make_encrypted_pdf(b"V4 RC4 filter", v=4, r=4, length=128)
    assert extract_pdf_text(pdf) == "V4 RC4 filter"


def test_encrypted_aes128():
    pdf = _make_encrypted_pdf(
        b"AES page contents", v=4, r=4, length=128, aes=True
    )
    assert extract_pdf_text(pdf) == "AES page contents"


def test_encrypted_wrong_user_password_raises():
    pdf = _make_encrypted_pdf(b"locked", v=2, r=3, user_pw=b"hunter2")
    with pytest.raises(ValueError, match="password"):
        extract_pdf_text(pdf)
    pdf2 = _make_encrypted_pdf(b"locked", v=1, r=2, length=40, user_pw=b"x")
    with pytest.raises(ValueError, match="password"):
        extract_pdf_text(pdf2)


def _make_encrypted_pdf_r6(
    text=b"AES-256 secret", *, r=6, user_pw=b"", owner_pw=b"own3r"
):
    """Write a one-page AES-256 PDF (ISO 32000-2 §7.6.4, V5 R5/R6):
    /U per Algorithm 8 (hash + validation/key salts), /UE wraps the
    256-bit file key, /O//OE per Algorithm 9. Algorithm 2.B is
    re-implemented HERE in the control-flow shape used by the PUBLIC
    open-source readers (pdf.js calculateHash / qpdf hash_V5: a
    pre-condition ``while rounds < 64 or E[-1] > rounds - 32`` loop
    with K1 accumulated by 64 appends), structurally unlike the prod
    post-condition loop, so writer and reader can't share a
    misreading of the K1 repeat count or the 64-round stop condition
    — the two traps a line-identical copy would round-trip through.
    Only the raw CBC cipher primitive is shared with the prod
    module."""
    import hashlib
    import zlib

    from littletable_spark.functions.pdfcrypt import (
        _cbc_encrypt_nopad,
        aes128_cbc_encrypt,
    )

    def hash_r6(pwd, salt, udata=b""):
        # ISO 32000-2 Algorithm 2.B in the pdf.js/qpdf loop shape
        k = hashlib.sha256(pwd + salt + udata).digest()
        rounds = 0
        e = b"\xff"  # sentinel: first 64 rounds run unconditionally
        while rounds < 64 or e[-1] > rounds - 32:
            k1_parts = []
            for _ in range(64):
                k1_parts.append(pwd)
                k1_parts.append(k)
                k1_parts.append(udata)
            e = _cbc_encrypt_nopad(k[:16], k[16:32], b"".join(k1_parts))
            digest_pick = (sum(e[0:16])) % 3
            if digest_pick == 0:
                k = hashlib.sha256(e).digest()
            elif digest_pick == 1:
                k = hashlib.sha384(e).digest()
            else:
                k = hashlib.sha512(e).digest()
            rounds += 1
        return k[:32]

    if r == 5:  # deprecated Adobe extension: single SHA-256, no chain
        def hsh(pwd, salt, udata=b""):
            return hashlib.sha256(pwd + salt + udata).digest()
    else:
        hsh = hash_r6

    file_key = bytes(range(32))
    uvs, uks = b"UVALSALT", b"UKEYSALT"
    u_entry = hsh(user_pw, uvs) + uvs + uks
    ue_entry = _cbc_encrypt_nopad(
        hsh(user_pw, uks), b"\x00" * 16, file_key
    )
    ovs, oks = b"OVALSALT", b"OKEYSALT"
    o_entry = hsh(owner_pw, ovs, u_entry) + ovs + oks
    oe_entry = _cbc_encrypt_nopad(
        hsh(owner_pw, oks, u_entry), b"\x00" * 16, file_key
    )

    stream_plain = zlib.compress(b"BT /F1 12 Tf (" + text + b") Tj ET")
    stream = aes128_cbc_encrypt(file_key, bytes(range(16)), stream_plain)

    objs = [
        b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(stream)
        + stream + b"\nendstream",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 1 0 R "
        b"/MediaBox [0 0 612 792] >>",
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Filter /Standard /V 5 /R %d /Length 256 " % r
        + b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
        b"/StmF /StdCF /StrF /StdCF "
        + b"/O <" + o_entry.hex().encode() + b"> "
        + b"/U <" + u_entry.hex().encode() + b"> "
        + b"/OE <" + oe_entry.hex().encode() + b"> "
        + b"/UE <" + ue_entry.hex().encode() + b"> "
        + b"/Perms <" + (b"\x00" * 16).hex().encode() + b"> "
        + b"/P -44 >>",
    ]
    out = bytearray(b"%PDF-2.0\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 4 0 R /Encrypt 5 0 R /ID [<"
        % (len(objs) + 1)
        + bytes(range(16)).hex().encode() + b"> <"
        + bytes(range(16)).hex().encode() + b">] >>\n"
        b"startxref\n%d\n%%%%EOF" % xref_at
    )
    return bytes(out)


def test_encrypted_aes256_r6():
    pdf = _make_encrypted_pdf_r6(b"Hardened-hash secret", r=6)
    assert extract_pdf_text(pdf) == "Hardened-hash secret"


def test_encrypted_aes256_r5():
    pdf = _make_encrypted_pdf_r6(b"Legacy R5 secret", r=5)
    assert extract_pdf_text(pdf) == "Legacy R5 secret"


def test_encrypted_aes256_wrong_password_raises():
    for rev in (5, 6):
        pdf = _make_encrypted_pdf_r6(b"locked", r=rev, user_pw=b"hunter2")
        with pytest.raises(ValueError, match="password"):
            extract_pdf_text(pdf)


def test_encrypted_future_revision_unsupported():
    pdf = _make_encrypted_pdf_r6(b"t", r=6).replace(b"/R 6", b"/R 7")
    with pytest.raises(ValueError, match="unsupported"):
        extract_pdf_text(pdf)


def test_aes_core_fips197_vectors():
    """FIPS-197 Appendix C block vectors pin the widened key schedule
    (AES-128 pinned since round 12; 192/256 are the round-13 paths)."""
    from littletable_spark.functions.pdfcrypt import _cbc_encrypt_nopad

    # one block under a zero IV: CBC encryption is the bare block cipher
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    for keyhex, cthex in [
        ("000102030405060708090a0b0c0d0e0f",
         "69c4e0d86a7b0430d8cdb78070b4c55a"),
        ("000102030405060708090a0b0c0d0e0f1011121314151617",
         "dda97ca4864cdfe06eaf70a0ec0d7191"),
        ("000102030405060708090a0b0c0d0e0f"
         "101112131415161718191a1b1c1d1e1f",
         "8ea2b7ca516745bfeafc49904b496089"),
    ]:
        ct = _cbc_encrypt_nopad(bytes.fromhex(keyhex), bytes(16), pt)
        assert ct.hex() == cthex


def test_encrypted_pdf_spark_on_error(spark):
    """Pipeline contract: decryptable files extract, wrong-password
    files land as NULL under on_error='null'."""
    from littletable_spark.operators.multimodal import extract_text

    good = _make_encrypted_pdf(b"Crawlable secret", aes=False)
    locked = _make_encrypted_pdf(b"locked", user_pw=b"pw")
    t = Table("docs", spark=spark)
    t.insert_many(
        [{"doc_id": 0, "blob": good}, {"doc_id": 1, "blob": locked}]
    )
    out = extract_text(t, "blob", "doc_id", on_error="null")
    got = {r.doc_id: r.text for r in out}
    assert got[0] == "Crawlable secret"
    assert got[1] is None


def test_stream_payload_ending_in_cr_is_not_truncated():
    """Length-delimited stream reads (round 12): a Flate (or
    decrypted) payload whose LAST byte is 0x0D loses it to the
    ``\\r?\\nendstream`` delimiter regex unless the direct /Length
    takes precedence — found by the codec_probe sweep on encrypted
    fixtures, pinned here on both the plain and encrypted paths."""
    import zlib

    # find a text whose compressed stream ends in CR
    text = None
    for i in range(4000):
        cand = b"Carriage return hunt %d" % i
        if zlib.compress(b"BT /F1 12 Tf (" + cand + b") Tj ET")[-1] == 0x0D:
            text = cand
            break
    assert text is not None, "no CR-tailed fixture found in range"
    pdf = _make_pdf([b"BT /F1 12 Tf (" + text + b") Tj ET"], compress=True)
    assert extract_pdf_text(pdf) == text.decode()

    # encrypted path: RC4 ciphertext ending in CR (search again over
    # the encrypted bytes, which depend on the object key)
    hit = None
    for i in range(4000):
        cand = b"Encrypted CR hunt %d" % i
        blob = _make_encrypted_pdf(cand, v=2, r=3)
        import re

        body = re.search(rb"1 0 obj\n(.*?)\nendobj", blob, re.S).group(1)
        sm = re.search(rb"stream\n(.*?)\nendstream", body, re.S)
        if sm and sm.group(1)[-1:] == b"\r":
            hit = (cand, blob)
            break
    if hit is not None:  # probabilistic search; pin when found
        cand, blob = hit
        assert extract_pdf_text(blob) == cand.decode()


def test_decrypt_objects_indirect_length_pathological_payload():
    """Round-13 ADVICE fix: with an INDIRECT '/Length N 0 R', the
    ciphertext span must resolve through the length object (a payload
    containing '\\nendstream' or ending in CR would truncate under the
    delimiter fallback and leave dangling ciphertext), and the rebuilt
    stream must carry a DIRECT /Length so the re-parse is
    length-delimited too."""
    from littletable_spark.functions.pdfcodec import (
        _DIRECT_LEN_RE,
        _decrypt_objects,
        _stream_data,
    )

    class Identity:
        def decrypt(self, num, gen, data):
            return data

    plain = b"abc\nendstream decoy\r"
    body = (
        b"<< /Length 6 0 R >>\nstream\n" + plain + b"\nendstream TAIL"
    )
    objects = {1: body, 6: b"%d" % len(plain)}
    _decrypt_objects(objects, {}, 99, Identity())
    out = objects[1]
    assert _DIRECT_LEN_RE.search(out) is not None
    assert _stream_data(out) == plain  # full payload, no truncation
    assert out.endswith(b"endstream TAIL")  # tail preserved, no debris
    assert out.count(b"decoy") == 1  # no duplicated ciphertext

    # same pathological payload with NO /Length at all: one is inserted
    body2 = b"<< /Type /XObject >>\nstream\n" + plain + b"\nendstream"
    objects2 = {1: body2}
    _decrypt_objects(objects2, {}, 99, Identity())
    # delimiter fallback necessarily truncates at the embedded
    # endstream, but the re-parse must at least be length-consistent
    out2 = objects2[1]
    m = _DIRECT_LEN_RE.search(out2)
    assert m is not None
    assert _stream_data(out2) is not None
    assert len(_stream_data(out2)) == int(m.group(1))


# ------------------------------------------------------ /Info titles
def test_info_title_literal():
    from littletable_spark.functions.pdfcodec import extract_pdf_doc

    pdf = _make_pdf(
        [_text_stream([b"body"])],
        info=b"<< /Title (Annual Report) /Author (x) >>",
    )
    got = extract_pdf_doc(pdf)
    assert got["title"] == "Annual Report"
    assert got["text"] == "body"


def test_info_title_utf16_hex():
    from littletable_spark.functions.pdfcodec import extract_pdf_doc

    raw = b"\xfe\xff" + "Отчёт".encode("utf-16-be")
    pdf = _make_pdf(
        [_text_stream([b"body"])],
        info=b"<< /Title <" + raw.hex().encode() + b"> >>",
    )
    assert extract_pdf_doc(pdf)["title"] == "Отчёт"


def test_info_title_absent_is_empty():
    from littletable_spark.functions.pdfcodec import extract_pdf_doc

    assert extract_pdf_doc(_make_pdf([_text_stream([b"x"])]))["title"] == ""
    pdf = _make_pdf([_text_stream([b"x"])], info=b"<< /Author (n) >>")
    assert extract_pdf_doc(pdf)["title"] == ""
