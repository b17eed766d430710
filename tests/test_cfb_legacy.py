"""CFB container + legacy .doc/.ppt extraction (from-scratch [MS-CFB],
[MS-DOC], [MS-PPT]); reference parity target: rag/app/naive.py:449-460
tika line-split for .doc, ppt_parser.py slide shape for decks."""

import struct

import pytest

from ragflow_spark.extractlib.cfb import (ENDOFCHAIN, FATSECT, FREESECT,
                                          MAGIC, CfbError, build_cfb,
                                          read_cfb)
from ragflow_spark.extractlib.docparse import (_COMPRESSED_TRANS,
                                               DocError, build_doc,
                                               doc_lines, parse_doc)
from ragflow_spark.extractlib.officegen import sniff_office
from ragflow_spark.extractlib.pptparse import PptError, build_ppt, parse_ppt


# -------------------------------------------------------------------------
# container
# -------------------------------------------------------------------------

def test_cfb_roundtrip_mini_and_big_streams():
    streams = [
        ("WordDocument", b"\x01\x02" * 5000),     # FAT-chained
        ("1Table", b"tbl" * 100),                 # mini stream
        ("\x05SummaryInformation", b"s" * 64),    # mini stream
        ("Empty", b""),
        ("Exact4096", b"x" * 4096),               # at the cutoff: big
        ("Under", b"y" * 4095),                   # below: mini
    ]
    out = read_cfb(build_cfb(streams))
    assert out == dict(streams)


def test_cfb_layout_fields():
    """Spec-shape probes on the writer output, independent of the
    reader: magic, sector alignment, FAT self-marking."""
    blob = build_cfb([("S", b"z" * 600)])
    assert blob[:8] == MAGIC
    assert len(blob) % 512 == 0
    assert struct.unpack_from("<H", blob, 28)[0] == 0xFFFE
    n_fat = struct.unpack_from("<I", blob, 44)[0]
    fat_sid = struct.unpack_from("<I", blob, 76)[0]  # first DIFAT entry
    fat = struct.unpack_from("<128I", blob, 512 * (fat_sid + 1))
    assert fat[fat_sid] == FATSECT
    assert n_fat == 1
    # every sector id in the file is covered by the FAT
    nsect = len(blob) // 512 - 1
    assert all(v == FREESECT for v in fat[nsect:])


def test_cfb_many_streams_directory_tree():
    streams = [(f"Stream{i:02d}", bytes([i]) * (10 + i)) for i in
               range(40)]
    assert read_cfb(build_cfb(streams)) == dict(streams)


def test_cfb_v4_sectors_handwritten():
    """A minimal hand-built v4 file (4096-byte sectors): FAT sector 0,
    directory sector 1, data sectors 2-3."""
    ssz = 4096
    data = b"V4" * 3000  # 6000 bytes -> 2 sectors
    fat = [FATSECT, ENDOFCHAIN, 3, ENDOFCHAIN] + \
        [FREESECT] * (ssz // 4 - 4)
    fat_blob = b"".join(struct.pack("<I", v) for v in fat)

    def entry(name, objtype, child, start, size):
        raw = bytearray(128)
        enc = name.encode("utf-16-le")
        raw[:len(enc)] = enc
        struct.pack_into("<H", raw, 64, len(enc) + 2)
        raw[66] = objtype
        struct.pack_into("<III", raw, 68, 0xFFFFFFFF, 0xFFFFFFFF, child)
        struct.pack_into("<I", raw, 116, start)
        struct.pack_into("<Q", raw, 120, size)
        return bytes(raw)

    dir_blob = (entry("Root Entry", 5, 1, ENDOFCHAIN, 0)
                + entry("Data", 2, 0xFFFFFFFF, 2, len(data)))
    dir_blob += b"\x00" * (ssz - len(dir_blob))
    header = bytearray(512)
    header[:8] = MAGIC
    struct.pack_into("<H", header, 26, 4)       # major = 4
    struct.pack_into("<H", header, 28, 0xFFFE)
    struct.pack_into("<H", header, 30, 12)      # sector shift
    struct.pack_into("<H", header, 32, 6)
    struct.pack_into("<I", header, 44, 1)       # one FAT sector
    struct.pack_into("<I", header, 48, 1)       # dir at sector 1
    struct.pack_into("<I", header, 56, 4096)
    struct.pack_into("<I", header, 60, ENDOFCHAIN)
    struct.pack_into("<I", header, 68, ENDOFCHAIN)
    difat = [0] + [FREESECT] * 108
    struct.pack_into("<109I", header, 76, *difat)
    blob = (bytes(header).ljust(ssz, b"\x00") + fat_blob + dir_blob
            + data[:ssz] + data[ssz:].ljust(ssz, b"\x00"))
    assert read_cfb(blob) == {"Data": data}


def test_cfb_difat_sector_chain_handwritten():
    """FAT sector reached only through a DIFAT sector (header DIFAT all
    free) — exercises the chained-DIFAT read path real >7MB files use.
    Layout: sector 0 DIFAT, 1 FAT, 2 directory, 3-10 data (the stream
    must be >= the 4096 mini cutoff to live in regular sectors)."""
    ssz = 512
    data = (b"difat-path" * 410)[:4096]  # 4096 bytes -> 8 sectors
    difat_sec = [1] + [FREESECT] * (ssz // 4 - 2) + [ENDOFCHAIN]
    fat = [0xFFFFFFFC, FATSECT, ENDOFCHAIN,
           4, 5, 6, 7, 8, 9, 10, ENDOFCHAIN] + \
        [FREESECT] * (ssz // 4 - 11)  # sector 0 marked DIFSECT

    def entry(name, objtype, child, start, size):
        raw = bytearray(128)
        enc = name.encode("utf-16-le")
        raw[:len(enc)] = enc
        struct.pack_into("<H", raw, 64, len(enc) + 2)
        raw[66] = objtype
        struct.pack_into("<III", raw, 68, 0xFFFFFFFF, 0xFFFFFFFF, child)
        struct.pack_into("<I", raw, 116, start)
        struct.pack_into("<Q", raw, 120, size)
        return bytes(raw)

    dir_blob = (entry("Root Entry", 5, 1, ENDOFCHAIN, 0)
                + entry("D", 2, 0xFFFFFFFF, 3, len(data)))
    dir_blob += b"\x00" * (ssz - len(dir_blob))
    header = bytearray(512)
    header[:8] = MAGIC
    struct.pack_into("<H", header, 26, 3)
    struct.pack_into("<H", header, 28, 0xFFFE)
    struct.pack_into("<H", header, 30, 9)
    struct.pack_into("<H", header, 32, 6)
    struct.pack_into("<I", header, 44, 1)
    struct.pack_into("<I", header, 48, 2)
    struct.pack_into("<I", header, 56, 4096)
    struct.pack_into("<I", header, 60, ENDOFCHAIN)
    struct.pack_into("<I", header, 68, 0)       # DIFAT chain at sector 0
    struct.pack_into("<I", header, 72, 1)
    struct.pack_into("<109I", header, 76, *([FREESECT] * 109))
    blob = (bytes(header)
            + b"".join(struct.pack("<I", v) for v in difat_sec)
            + b"".join(struct.pack("<I", v) for v in fat)
            + dir_blob + data)
    assert read_cfb(blob) == {"D": data}


NOSTREAM = 0xFFFFFFFF


def _patch_directory(blob: bytes, edits) -> bytes:
    """Apply {name: {field: value}} edits to a one-sector v3 directory.

    Fields: objtype, left, right, child, name (rename).  Entry order is
    whatever build_cfb wrote; entries are located by current name.
    """
    buf = bytearray(blob)
    dir_start = struct.unpack_from("<I", buf, 48)[0]
    base = 512 * (1 + dir_start)
    idx_of = {}
    for i in range(4):  # root + up to 3 test streams, one sector
        off = base + 128 * i
        nlen = struct.unpack_from("<H", buf, off + 64)[0]
        if nlen >= 2:
            idx_of[buf[off:off + nlen - 2].decode("utf-16-le")] = i
    for name, fields in edits.items():
        off = base + 128 * idx_of[name]
        for field, val in fields.items():
            if field == "objtype":
                buf[off + 66] = val
            elif field == "name":
                enc = val.encode("utf-16-le")
                buf[off:off + 64] = enc.ljust(64, b"\x00")
                struct.pack_into("<H", buf, off + 64, len(enc) + 2)
            else:
                pos = {"left": 68, "right": 72, "child": 76}[field]
                struct.pack_into(
                    "<I", buf, off + pos,
                    val if isinstance(val, int) else idx_of[val])
    return bytes(buf)


def test_cfb_nested_storage_flattened():
    """A storage entry's subtree is walked and its streams surface at
    the top level (cfb.py _walk objtype==1 arm) — the shape real .doc
    ObjectPool / Macros storages produce."""
    a, c = b"alpha" * 30, b"gamma" * 40
    blob = build_cfb([("A", a), ("Sub", b"hidden"), ("C", c)])
    blob = _patch_directory(blob, {
        "Root Entry": {"child": "A"},
        "A": {"left": NOSTREAM, "right": "Sub"},
        "Sub": {"objtype": 1, "left": NOSTREAM, "right": NOSTREAM,
                "child": "C"},
        "C": {"left": NOSTREAM, "right": NOSTREAM},
    })
    assert read_cfb(blob) == {"A": a, "C": c}


def test_cfb_duplicate_stream_name_first_walked_wins():
    """Flattening can collide names across storages; the first-walked
    entry wins (documented in the CfbReader docstring)."""
    a, c = b"alpha" * 30, b"gamma" * 40
    blob = build_cfb([("A", a), ("Sub", b"hidden"), ("C", c)])
    blob = _patch_directory(blob, {
        "Root Entry": {"child": "A"},
        "A": {"left": NOSTREAM, "right": "Sub"},
        "Sub": {"objtype": 1, "left": NOSTREAM, "right": NOSTREAM,
                "child": "C"},
        "C": {"left": NOSTREAM, "right": NOSTREAM, "name": "A"},
    })
    # root-level "A" is popped before the storage subtree is expanded,
    # so the nested "A" is skipped
    assert read_cfb(blob) == {"A": a}


def test_cfb_hostile_inputs_raise_cfberror():
    good = build_cfb([("S", b"x" * 100)])
    for blob in (b"", b"\xd0\xcf\x11\xe0", bytes(256),
                 good[:600],                     # truncated mid-FAT
                 b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + bytes(504)):
        with pytest.raises(CfbError):
            read_cfb(blob)
    # corrupt the FAT into a self-loop
    bad = bytearray(good)
    fat_sid = struct.unpack_from("<I", bad, 76)[0]
    fat_off = 512 * (fat_sid + 1)
    dir_start = struct.unpack_from("<I", bad, 48)[0]
    struct.pack_into("<I", bad, fat_off + 4 * dir_start, dir_start)
    with pytest.raises(CfbError):
        read_cfb(bytes(bad))


# -------------------------------------------------------------------------
# .doc
# -------------------------------------------------------------------------

def test_doc_roundtrip_piece_groups():
    lines = ["Title Line", "1 Part 1", "body " * 30, "文档 中文 内容",
             "tail words here"]
    for group in (1, 2, 3, 10):
        blob = build_doc(lines, piece_group=group)
        assert doc_lines(blob) == lines, group


def test_doc_pieces_not_in_file_order():
    """The writer lays pieces in reverse file order: a linear scan of
    the WordDocument stream must NOT equal the logical text (guards
    that parse_doc really follows the piece table)."""
    lines = ["alpha one", "beta two", "gamma three", "delta four"]
    blob = build_doc(lines, piece_group=1)
    word = read_cfb(blob)["WordDocument"]
    tail = word[1472:].decode("latin-1")
    logical = "".join(ln + "\r" for ln in lines)
    assert tail != logical
    assert parse_doc(blob) == logical.replace("\r", "\n")


def test_doc_mixed_encodings_split_pieces():
    """zh lines force UTF-16 pieces, ascii lines compressed ones; both
    decode paths hit inside one document."""
    lines = ["pure ascii line", "中文第一行", "more ascii", "第二行"]
    blob = build_doc(lines, piece_group=1)
    assert doc_lines(blob) == lines


def test_doc_compressed_special_map_matches_cp1252():
    """[MS-DOC] FcCompressed remap == Windows-1252 for every byte
    cp1252 defines, EXCEPT 0x80/0x8E/0x9E (€ Ž ž): the spec's table
    predates those cp1252 additions and maps them to their ANSI value —
    we follow the spec. cp1252-undefined bytes also fall back to ANSI."""
    for b in range(0x20, 0x100):
        via_map = chr(b).translate(_COMPRESSED_TRANS)
        if b in (0x80, 0x8E, 0x9E):
            assert via_map == chr(b), hex(b)
            continue
        try:
            expected = bytes([b]).decode("cp1252")
        except UnicodeDecodeError:
            expected = chr(b)
        assert via_map == expected, hex(b)


def test_doc_control_chars_fold():
    # cell mark / vtab / page break all become line breaks; field and
    # object markers vanish; 0x1E renders '-', 0x1F renders empty
    lines = ["a\x07b", "c\x0bd"]
    blob = build_doc(lines, piece_group=1)
    # \x07 and \x0b survive the compressed-eligibility check? they are
    # control chars -> piece goes UTF-16; parse folds them to newlines
    assert doc_lines(blob) == ["a", "b", "c", "d"]


def test_doc_hostile_inputs_raise_docerror():
    with pytest.raises(DocError):
        parse_doc(b"not a doc")
    with pytest.raises(DocError):
        parse_doc(build_cfb([("NoWord", b"x" * 10)]))
    # WordDocument present but garbage FIB
    with pytest.raises(DocError):
        parse_doc(build_cfb([("WordDocument", b"\x00" * 2000)]))
    # encrypted flag set
    good = build_doc(["line"])
    word = bytearray(read_cfb(good)["WordDocument"])
    struct.pack_into("<H", word, 10, 0x0200 | 0x0100)
    table = read_cfb(good)["1Table"]
    with pytest.raises(DocError):
        parse_doc(build_cfb([("WordDocument", bytes(word)),
                             ("1Table", table)]))


def test_doc_zero_table_stream_fallback():
    """fWhichTblStm=1 but only 0Table shipped: parser falls back to
    the stream that exists (real-world tolerance POI also applies)."""
    good = build_doc(["fall back line"])
    streams = read_cfb(good)
    blob = build_cfb([("WordDocument", streams["WordDocument"]),
                      ("0Table", streams["1Table"])])
    assert doc_lines(blob) == ["fall back line"]


# -------------------------------------------------------------------------
# .ppt
# -------------------------------------------------------------------------

def test_ppt_roundtrip_slide_shape():
    slides = [["Head 1", "body line\nsecond"], ["标题", "ascii body"]]
    assert parse_ppt(build_ppt(slides)) == [
        "Head 1\nbody line\nsecond", "标题\nascii body"]


def test_ppt_empty_slide_and_deck():
    assert parse_ppt(build_ppt([["only"], []])) == ["only", ""]
    assert parse_ppt(build_ppt([])) == []


def test_ppt_record_overrun_raises():
    doc = struct.pack("<HHI", 0x000F, 0x03E8, 100) + b"\x00" * 10
    with pytest.raises(PptError):
        parse_ppt(build_cfb([("PowerPoint Document", doc)]))
    with pytest.raises(PptError):
        parse_ppt(build_cfb([("Other", b"x")]))


# -------------------------------------------------------------------------
# dispatch integration
# -------------------------------------------------------------------------

def test_sniff_office_legacy_kinds():
    assert sniff_office(build_doc(["x"])) == "doc"
    assert sniff_office(build_ppt([["x"]])) == "ppt"
    assert sniff_office(build_cfb([("Nothing", b"n")])) is None
    assert sniff_office(MAGIC + b"\x00" * 100) is None  # broken CFB


def test_office_batches_doc_ppt_rows():
    import pandas as pd

    from ragflow_spark.job.extract import (OFFICE_SCHEMA, _map_documents,
                                           _office_rows)

    doc = build_doc(["Doc Title", "first line", "second line"])
    ppt = build_ppt([["Slide A", "body"], ["Slide B", "more"]])
    hostile = MAGIC + b"\xff" * 1000
    pdf = pd.DataFrame({
        "url": ["u1", "u2", "u3"],
        "html": [doc, ppt, hostile],
    })
    out = pd.concat(list(_map_documents(iter([pdf]), _office_rows,
                                        OFFICE_SCHEMA)))
    got = [(r.url, r.seq, r.kind, r.text) for r in out.itertuples()]
    assert got == [
        ("u1", 0, "para", "Doc Title"),
        ("u1", 1, "para", "first line"),
        ("u1", 2, "para", "second line"),
        ("u2", 0, "slide", "Slide A\nbody"),
        ("u2", 1, "slide", "Slide B\nmore"),
    ]


def test_doc_corruption_arms_raise_specific_docerrors():
    # targeted [MS-DOC] guard arms: FIB truncation mid-read, missing
    # table stream, Clx pointer past the table, Pcdt marker absent
    good = build_doc(["line one", "line two"])
    streams = read_cfb(good)
    word = streams["WordDocument"]
    tname = "1Table" if "1Table" in streams else "0Table"
    table = streams[tname]

    def err(blob):
        with pytest.raises(DocError) as e:
            parse_doc(blob)
        return str(e.value)

    assert err(build_cfb([("WordDocument", word[:40]),
                          (tname, table)])) == "FIB truncated"
    assert err(build_cfb([("WordDocument", word[:100]),
                          (tname, table)])) == "FIB truncated"
    assert err(build_cfb([("WordDocument", word)])) == "no table stream"
    w2 = bytearray(word)
    struct.pack_into("<I", w2, 0x01A2, len(table) + 100)
    assert err(build_cfb([("WordDocument", bytes(w2)),
                          (tname, table)])) == "Clx out of range"
    t2 = bytearray(table)
    fc = struct.unpack_from("<I", word, 0x01A2)[0]
    t2[fc] = 0x05
    assert err(build_cfb([("WordDocument", word),
                          (tname, bytes(t2))])) == "no Pcdt in Clx"


def test_ppt_cfb_error_wrapped_as_ppt_error():
    from ragflow_spark.extractlib.pptparse import PptError, parse_ppt
    with pytest.raises(PptError):
        parse_ppt(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + bytes(504))


def test_ppt_hostile_container_nesting_capped():
    # 70 nested containers (ver_inst 0xF) must degrade as PptError,
    # never an escaping RecursionError
    from ragflow_spark.extractlib.pptparse import PptError, parse_ppt
    inner = b""
    for _ in range(70):
        inner = struct.pack("<HHI", 0x000F, 0, len(inner)) + inner
    blob = build_cfb([("PowerPoint Document", inner)])
    with pytest.raises(PptError, match="nesting too deep"):
        parse_ppt(blob)


def test_doc_piece_table_guard_arms():
    # remaining [MS-DOC] guards: 1-byte FIB, truncated Prc run,
    # non-multiple PlcPcd, non-increasing CPs, both piece-out-of-range
    # arms, and the ccpText clip that stops at subdocument pieces
    good = build_doc(["alpha", "beta", "gamma", "delta"], piece_group=1)
    streams = read_cfb(good)
    word = streams["WordDocument"]
    tname = "1Table" if "1Table" in streams else "0Table"
    FC = 0x01A2

    def with_clx(clx):
        w2 = bytearray(word)
        struct.pack_into("<I", w2, FC, 0)
        struct.pack_into("<I", w2, FC + 4, len(clx))
        return build_cfb([("WordDocument", bytes(w2)), (tname, clx)])

    def err(blob):
        with pytest.raises(DocError) as e:
            parse_doc(blob)
        return str(e.value)

    assert err(build_cfb([("WordDocument", word[:1]),
                          (tname, streams[tname])])) == "FIB truncated"
    assert err(with_clx(b"\x01\x05")) == "truncated Prc"
    assert err(with_clx(b"\x02" + struct.pack("<I", 5) + b"\x00" * 5)) \
        == "malformed PlcPcd"
    assert err(with_clx(b"\x02" + struct.pack("<I", 16)
                        + struct.pack("<II", 0, 0) + b"\x00" * 8)) \
        == "non-increasing piece CPs"
    pcd = b"\x00\x00" + struct.pack("<I", 0x40000000 | 0x3FFFFFF0) \
        + b"\x00\x00"
    assert err(with_clx(b"\x02" + struct.pack("<I", 16)
                        + struct.pack("<II", 0, 5) + pcd)) \
        == "compressed piece out of range"
    pcd_u = b"\x00\x00" + struct.pack("<I", 0x3FFFFFF0) + b"\x00\x00"
    assert err(with_clx(b"\x02" + struct.pack("<I", 16)
                        + struct.pack("<II", 0, 5) + pcd_u)) \
        == "unicode piece out of range"
    # ccpText clip: pieces past the main range are subdocuments
    w3 = bytearray(word)
    struct.pack_into("<I", w3, 76, 3)
    blob3 = build_cfb([("WordDocument", bytes(w3)),
                       (tname, streams[tname])])
    assert parse_doc(blob3) == "alp"


def test_doc_writer_keeps_unterminated_tail():
    from ragflow_spark.extractlib.docparse import _split_pieces
    assert _split_pieces("a\rb", group=1) == ["a\r", "b"]
