"""Document / mention sources (SURVEY.md §2.1 S1, S2, S4, S10).

Reference behavior being re-expressed:

- S1 recursive directory scan: walk a tree, keep one extension, sort
  for determinism (src/Ingester.groovy:197-207). Spark-first: the
  ``binaryFile`` source with ``recursiveFileLookup`` — the listing is
  distributed and the scan is split across executors, unlike the
  reference's single-threaded walk.
- S2 text extraction: any file -> plain text (src/TextExtractor.groovy:
  12-28, Tika). Two tables name the extractors: JVM Column extractors
  (UTF-8 decode, HTML, RTF) and per-row Python kernels for the
  container formats (PDF/Office/mail/calendar), which share one
  Arrow-batched pandas UDF. Tika itself is not available here.
- S4 mention CSV: one row per mention, write order
  (type, start, stop, index, global_id, text)
  (src/EntityExtractor.groovy:21-33; read back src/Ingester.groovy:
  244-251). Fixed schema on read — no inference pass over the data.
- S10 XML->TSV token source: entity-tagged XML -> (token, tag) rows
  (src/XMLToTSVConverter.groovy:70-159). Re-expressed as JVM regex
  segmentation + posexplode (no per-row Python); PTB tokenization is
  reduced to word/punct splitting (documented reduction, SURVEY §2.8
  C14).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# S4 — .ner.csv column order at src/EntityExtractor.groovy:30
MENTION_CSV_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("text_start", T.LongType()),
        T.StructField("text_stop", T.LongType()),
        T.StructField("idx", T.LongType()),
        T.StructField("global_id", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def scan_directory(spark: SparkSession, path: str, ext: str = "txt") -> DataFrame:
    """S1 — recursive scan filtered by extension, deterministic order.

    Returns (path, modificationTime, length, content) with content as
    raw bytes. Listing parallelizes on the driver + scan splits by
    file; ``orderBy(path)`` reproduces the reference's sorted walk
    (src/Ingester.groovy:206) only at output time — keep it lazy so
    downstream ops don't inherit a global sort.
    """
    glob = "*" if ext == "*" else f"*.{ext}"
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def extract_text(
    binary_docs: DataFrame, extractor: str = "utf8", id_offset: int = 0
) -> DataFrame:
    """S2 — binary file rows -> documents(doc_id, name, path, text).

    ``extractor`` names one entry of the two extractor tables:
    ``utf8`` (the default), ``html`` and ``rtf`` are JVM Column
    extractors (whole-stage codegen, no Python); the container formats
    (``pdf``, ``docx``, ``doc``, ``eml``, ...) run their Python kernel
    in one Arrow-batched pandas UDF. Any other name raises — Tika-class
    parsers are external components (src/TextExtractor.groovy:6).
    """
    if extractor in _COLUMN_EXTRACTORS:
        text = _COLUMN_EXTRACTORS[extractor](F.col("content"))
    elif extractor in _CONTAINER_KERNELS:
        text = _container_text(binary_docs, F.lit(extractor), F.col("content"))
    else:
        raise NotImplementedError(
            f"extractor {extractor!r} not available; Tika-class parsers "
            "are external components (src/TextExtractor.groovy:6)"
        )
    return _documents(binary_docs, text, id_offset)


def _documents(binary_docs: DataFrame, text: "F.Column", id_offset: int) -> DataFrame:
    """Project binary file rows onto documents(doc_id, name, path, text).

    doc_id is a deterministic hash of the path — stable across runs
    and shuffle-free (a row_number would serialize the listing through
    one partition; at 100 TB that is the difference between a metadata
    op and a bottleneck). The hash is bounded to 2^40 so downstream
    id schemes (mention_id = doc_id * ID_STRIDE + idx,
    operators/mentions.py) stay inside a long; collision odds at 10^9
    docs are ~5e-4 under the birthday bound — acceptable for ids;
    callers needing certainty can key on ``path``.
    """
    return binary_docs.select(
        (F.pmod(F.xxhash64("path"), F.lit(1 << 40)) + F.lit(id_offset)).alias("doc_id"),
        F.element_at(F.split("path", "/"), -1).alias("name"),
        F.col("path").alias("path"),
        text.alias("text"),
    )


#: one PDF literal string `(...)` with escapes; group 1 = the body
_PDF_STR_RE = r"\(((?:\\.|[^\\()])*)\)"
#: one text-showing op: `(s) Tj`, `(s) '`, or `[(a) -120 (b)] TJ`
_PDF_SHOW_RE = r"(?s)(?:\((?:\\.|[^\\()])*\)\s*(?:Tj|')|\[(?:\\.|[^\]\\])*\]\s*TJ)"
_PDF_ESC_MARK = "\x02"


def html_extract(content: "F.Column") -> "F.Column":
    """Minimal HTML/XML text extractor (what Tika's HtmlParser does for
    the common case, src/TextExtractor.groovy:12-28): drop
    script/style subtrees and comments, strip tags, decode entities,
    collapse whitespace. Pure Column regexp logic — stays in
    whole-stage codegen; at 100 TB extraction is part of the scan
    stage, zero extra shuffles. Entities decode AFTER tag-stripping so
    ``&lt;p&gt;`` in prose survives as text instead of becoming a tag.
    """
    from ..functions.text import xml_unescape

    t = F.decode(content, "UTF-8")
    t = F.regexp_replace(t, r"(?is)<(script|style)\b.*?</\1\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    t = xml_unescape(t)
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def _pdf_inflate_streams(raw: bytes) -> bytes:
    """Inflate every ``/Filter /FlateDecode`` stream object in a PDF
    byte string, in place; other streams pass through untouched.

    Stream extent uses the dict's ``/Length`` when it is a literal
    integer (the common case and what our renderer emits), else falls
    back to scanning for ``endstream``. ``decompressobj`` tolerates
    the trailing EOL the spec allows before ``endstream``.
    """
    import re as _re
    import zlib

    out = []
    pos = 0
    for m in _re.finditer(rb"<<(.*?)>>\s*stream(?:\r\n|\n)", raw, _re.S):
        if m.start() < pos:  # nested/overlapping match inside a stream
            continue
        d = m.group(1)
        start = m.end()
        lm = _re.search(rb"/Length\s+(\d+)(?![^/>]*R)", d)
        if lm:
            end = start + int(lm.group(1))
            em = raw.find(b"endstream", end)
        else:
            em = raw.find(b"endstream", start)
            end = em
        if em < 0 or end > len(raw):
            continue
        body = raw[start:end]
        if b"/FlateDecode" in d:
            try:
                body = zlib.decompressobj().decompress(body.rstrip(b"\r\n"))
            except zlib.error:
                pass  # not actually deflate — leave raw
        out.append(raw[pos:m.start()])
        out.append(b"\nstream\n" + body + b"\nendstream")
        pos = em + len(b"endstream")
    out.append(raw[pos:])
    return b"".join(out)


_PDF_SHOW_PY = None  # compiled lazily on executors
_PDF_STR_PY = None


def _pdf_text_of_bytes(b) -> str | None:
    """PDF text extraction for raw and Flate streams alike: inflate
    FlateDecode content streams (stdlib zlib — real-world PDFs are ~all
    Flate-compressed), then pull the literal strings out of the
    text-showing operators (``(s) Tj``, ``(s) '``, ``[..] TJ``) and undo
    PDF string escapes. Decoding is ISO-8859-1 (PDF bytes are not
    UTF-8; latin-1 is the identity byte map).
    """
    global _PDF_SHOW_PY, _PDF_STR_PY
    import re as _re

    if b is None:
        return None
    if _PDF_SHOW_PY is None:
        _PDF_SHOW_PY = _re.compile(_PDF_SHOW_RE.replace("(?s)", ""), _re.S)
        _PDF_STR_PY = _re.compile(_PDF_STR_RE, _re.S)
    raw = bytes(b)
    if b"/FlateDecode" in raw:
        raw = _pdf_inflate_streams(raw)
    txt = raw.decode("ISO-8859-1")
    joined = " ".join(
        "".join(_PDF_STR_PY.findall(op)) for op in _PDF_SHOW_PY.findall(txt)
    )
    s = joined.replace("\\\\", _PDF_ESC_MARK)
    for esc, ch in (("\\(", "("), ("\\)", ")"), ("\\n", "\n"),
                    ("\\r", "\r"), ("\\t", "\t")):
        s = s.replace(esc, ch)
    return s.replace(_PDF_ESC_MARK, "\\")


def _pdf_bytes_of_text(text: str, compress: bool) -> bytes:
    """Render text as a minimal one-stream PDF; ``compress=True``
    wraps the content stream in ``/Filter /FlateDecode`` (what every
    real-world producer emits). Fixture/round-trip helper."""
    import zlib

    esc = (
        text.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    )
    payload = ("BT /F1 12 Tf (" + esc + ") Tj ET").encode("utf-8")
    if not compress:
        return b"%PDF-1.4\n" + payload + b"\n%%EOF"
    body = zlib.compress(payload, 6)
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(body)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + body
        + b"\nendstream\nendobj\n%%EOF"
    )


@F.pandas_udf(T.BinaryType())
def render_pdf(text: pd.Series, compress: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if t is None else _pdf_bytes_of_text(t, bool(c))
            for t, c in zip(text, compress)
        ]
    )


# --- DOCX (S2: the most common Tika format after txt/html/pdf,
# src/TextExtractor.groovy:12-28). A .docx is a zip whose main part is
# word/document.xml; text lives in <w:t> runs grouped into <w:p>
# paragraphs. stdlib zipfile + regex — zero new dependencies. Python
# is unavoidable here (zip inflation is not expressible in Column
# algebra), so it runs as an Arrow-batched pandas UDF: extraction
# stays in the scan stage, no shuffle, ~10-100x over row-at-a-time.

_XML_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&apos;", "'"), ("&amp;", "&"),  # &amp; last — unescape once
)


def _docx_text_of_bytes(b) -> str | None:
    import io as _io
    import re as _re
    import zipfile

    if b is None:
        return None
    try:
        with zipfile.ZipFile(_io.BytesIO(bytes(b))) as zf:
            xml = zf.read("word/document.xml").decode("utf-8", "replace")
    except Exception:  # not a zip / no document part — not a docx
        return None
    paras = []
    for p in _re.findall(r"(?s)<w:p[ >].*?</w:p>|<w:p/>", xml):
        runs = _re.findall(r"(?s)<w:t(?: [^>]*)?>(.*?)</w:t>", p)
        paras.append("".join(runs))
    out = " ".join(paras)
    for ent, ch in _XML_ENTITIES:
        out = out.replace(ent, ch)
    return _re.sub(r"\s+", " ", out).strip()


_DOCX_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    "</Types>"
)
_DOCX_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>'
    "</Relationships>"
)


def _docx_bytes_of_text(text: str) -> bytes:
    """Render text as a minimal valid .docx (one paragraph per newline
    run). Fixture/round-trip helper for the extractor above; fixed zip
    timestamps keep output deterministic."""
    import io as _io
    import zipfile

    esc = (
        text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        '<w:body><w:p><w:r><w:t xml:space="preserve">'
        + esc
        + "</w:t></w:r></w:p></w:body></w:document>"
    )
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in (
            ("[Content_Types].xml", _DOCX_CONTENT_TYPES),
            ("_rels/.rels", _DOCX_RELS),
            ("word/document.xml", doc),
        ):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(zi, data, compress_type=zipfile.ZIP_DEFLATED)
    return buf.getvalue()


# --- ODT (OpenDocument text): zip + content.xml, text in <text:p>/<text:h>
# paragraphs with nested spans — same machinery as DOCX.

def _odt_text_of_bytes(b) -> str | None:
    import io as _io
    import re as _re
    import zipfile

    if b is None:
        return None
    try:
        with zipfile.ZipFile(_io.BytesIO(bytes(b))) as zf:
            xml = zf.read("content.xml").decode("utf-8", "replace")
    except Exception:
        return None
    paras = []
    for p in _re.findall(r"(?s)<text:[ph][ >].*?</text:[ph]>", xml):
        inner = _re.sub(r"(?s)<[^>]+>", "", p)
        paras.append(inner)
    out = " ".join(paras)
    for ent, ch in _XML_ENTITIES:
        out = out.replace(ent, ch)
    return _re.sub(r"\s+", " ", out).strip()


def _odt_bytes_of_text(text: str) -> bytes:
    import io as _io
    import zipfile

    esc = (
        text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"'
        ' xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        "<office:body><office:text><text:p><text:span>"
        + esc
        + "</text:span></text:p></office:text></office:body>"
        "</office:document-content>"
    )
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in (
            ("mimetype", "application/vnd.oasis.opendocument.text"),
            ("content.xml", content),
        ):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(zi, data, compress_type=zipfile.ZIP_DEFLATED)
    return buf.getvalue()


@F.pandas_udf(T.BinaryType())
def render_odt(text: pd.Series) -> pd.Series:
    return text.map(lambda t: None if t is None else _odt_bytes_of_text(t))


# --- RTF: text-based format, extractable with pure Column regex (JVM,
# scan-stage, same family as html). Documented subset: character
# escapes (\\ \{ \}), \par/\tab/\line breaks, skip-destinations
# ({\*\...} without nested braces), control-word stripping. Nested
# destination groups (\fonttbl with embedded groups) need a real
# parser — out of the honest subset, like compressed PDF streams.

_RTF_ESC = {"\\\\": "\x02", "\\{": "\x03", "\\}": "\x04"}


def rtf_extract(content: "F.Column") -> "F.Column":
    t = F.decode(content, "UTF-8")
    for esc, mark in _RTF_ESC.items():
        t = F.replace(t, F.lit(esc), F.lit(mark))
    t = F.regexp_replace(t, r"\{\\\*[^{}]*\}", " ")  # skip-destinations
    t = F.regexp_replace(t, r"\\(par|tab|line)\b ?", " ")
    t = F.regexp_replace(t, r"\\[a-zA-Z]+-?[0-9]* ?", "")  # control words
    t = F.regexp_replace(t, r"[{}]", " ")
    for esc, mark in (("\\", "\x02"), ("{", "\x03"), ("}", "\x04")):
        t = F.replace(t, F.lit(mark), F.lit(esc))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def rtf_render(text: "F.Column") -> "F.Column":
    """Column-side RTF fixture renderer (inverse of the extractor's
    subset): escape the three specials, wrap in a document group."""
    esc = F.replace(text, F.lit("\\"), F.lit("\\\\"))
    esc = F.replace(esc, F.lit("{"), F.lit("\\{"))
    esc = F.replace(esc, F.lit("}"), F.lit("\\}"))
    return F.concat(
        F.lit("{\\rtf1\\ansi\\deff0 "),
        esc,
        F.lit("\\par}"),
    )


# --- Legacy binary .doc (OLE2/CFB container + Word binary format).
# The reference's headline input class is "Microsoft Office files"
# (src/TextExtractor.groovy:12-28; install doc, Inputs) and a
# 2013-era corpus is .doc-heavy. Two stdlib-only pieces, both public
# formats ([MS-CFB], [MS-DOC]):
#   1. a Compound File Binary reader/writer (FAT chains, mini FAT,
#      mini stream, directory) — the container walk;
#   2. Word text extraction via the FIB + Clx piece table in the
#      0Table/1Table stream (Word 97+), with the Word 6/95
#      contiguous-[fcMin,fcMac) cp1252 layout as fallback.
# Documented subset: text pieces only (no fields/OLE objects/fastsave
# revision chains beyond what the piece table expresses).

_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_CFB_EOC = 0xFFFFFFFE
_CFB_FREE = 0xFFFFFFFF
_CFB_FATSEC = 0xFFFFFFFD


def _cfb_streams(raw: bytes) -> dict[str, bytes] | None:
    """Parse a CFB container into {stream_name: bytes}. Returns None
    if the magic is absent OR the container is corrupt — a messy
    corpus WILL contain truncated/bit-rotted Office files, and an
    exception inside the extractor pandas UDF aborts the whole job
    after retries (r11 fuzz: 35/3000 random corruptions crashed the
    parser, e.g. a flipped sector-shift byte exploding the FAT format
    string). Header fields are spec-validated ([MS-CFB]: SectorShift
    in {9, 12}, MiniSectorShift 6) and any residual parse error maps
    to None — the same fail-soft contract every extractor exposes
    (NULL text for undecodable content, auditable by callers).
    Handles v3 (512 B) and v4 (4096 B) sectors, extended DIFAT, and
    the mini stream for streams below the 4096-byte cutoff."""
    try:
        return _cfb_streams_impl(raw)
    except Exception:  # corrupt container — not a valid CFB
        return None


def _cfb_streams_impl(raw: bytes) -> dict[str, bytes] | None:
    import struct

    if len(raw) < 512 or raw[:8] != _CFB_MAGIC:
        return None
    shift = struct.unpack_from("<H", raw, 30)[0]
    mshift = struct.unpack_from("<H", raw, 32)[0]
    if shift not in (9, 12) or mshift != 6:
        return None  # outside the spec'd sector geometries
    ssz = 1 << shift
    mssz = 1 << mshift
    n_fat = struct.unpack_from("<I", raw, 44)[0]
    first_dir = struct.unpack_from("<I", raw, 48)[0]
    cutoff = struct.unpack_from("<I", raw, 56)[0]
    first_minifat = struct.unpack_from("<I", raw, 60)[0]
    first_difat = struct.unpack_from("<I", raw, 68)[0]
    difat = list(struct.unpack_from("<109I", raw, 76))

    def sector(n: int) -> bytes:
        off = (n + 1) * ssz
        return raw[off : off + ssz].ljust(ssz, b"\0")

    per_sec = ssz // 4
    s = first_difat
    seen_d: set[int] = set()
    while s < 0xFFFFFFFA and s not in seen_d:
        seen_d.add(s)
        vals = struct.unpack(f"<{per_sec}I", sector(s))
        difat.extend(vals[:-1])
        s = vals[-1]
    fat: list[int] = []
    for fs in [x for x in difat if x < 0xFFFFFFFA][:n_fat]:
        fat.extend(struct.unpack(f"<{per_sec}I", sector(fs)))

    def chain(start: int, table: list[int]) -> list[int]:
        out: list[int] = []
        s, seen = start, set()
        while s < 0xFFFFFFFA and s not in seen and s < len(table):
            seen.add(s)
            out.append(s)
            s = table[s]
        return out

    dir_raw = b"".join(sector(x) for x in chain(first_dir, fat))
    entries = []
    for off in range(0, len(dir_raw) - 127, 128):
        e = dir_raw[off : off + 128]
        nlen = struct.unpack_from("<H", e, 64)[0]
        typ = e[66]
        if typ not in (2, 5) or nlen < 2:
            continue
        name = e[: min(nlen - 2, 64)].decode("utf-16-le", "replace")
        start = struct.unpack_from("<I", e, 116)[0]
        size = struct.unpack_from("<Q", e, 120)[0]
        entries.append((name, typ, start, size))
    root = next((e for e in entries if e[1] == 5), None)
    minifat: list[int] = []
    if first_minifat < 0xFFFFFFFA:
        for ms in chain(first_minifat, fat):
            minifat.extend(struct.unpack(f"<{per_sec}I", sector(ms)))
    mini_raw = (
        b"".join(sector(x) for x in chain(root[2], fat)) if root else b""
    )
    streams: dict[str, bytes] = {}
    for name, typ, start, size in entries:
        if typ != 2:
            continue
        if size < cutoff:
            data = b"".join(
                mini_raw[x * mssz : (x + 1) * mssz]
                for x in chain(start, minifat)
            )
        else:
            data = b"".join(sector(x) for x in chain(start, fat))
        streams[name] = data[:size]
    return streams


def _cfb_bytes(streams: dict[str, bytes]) -> bytes:
    """Write streams into a minimal valid CFB v3 container (512-byte
    sectors, mini stream for streams under the 4096 cutoff).
    Deterministic layout: big streams, mini stream, mini FAT,
    directory, FAT. Directory siblings form a right-leaning chain —
    degenerate but within spec shape; linear-scanning readers (ours,
    and every mainstream parser) accept it."""
    import struct

    ssz, mssz, cutoff = 512, 64, 4096
    sectors: list[bytes] = []
    fat: list[int] = []

    def add_chain(data: bytes) -> int:
        if not data:
            return _CFB_EOC
        n = (len(data) + ssz - 1) // ssz
        start = len(sectors)
        for i in range(n):
            sectors.append(data[i * ssz : (i + 1) * ssz].ljust(ssz, b"\0"))
            fat.append(start + i + 1 if i < n - 1 else _CFB_EOC)
        return start

    names = list(streams)
    starts: dict[str, int] = {}
    mini_data = bytearray()
    minifat: list[int] = []
    for name in names:
        data = streams[name]
        if len(data) >= cutoff:
            starts[name] = add_chain(data)
    for name in names:
        data = streams[name]
        if len(data) < cutoff:
            n = max(1, (len(data) + mssz - 1) // mssz)
            starts[name] = len(minifat)
            for i in range(n):
                minifat.append(
                    len(minifat) + 1 if i < n - 1 else _CFB_EOC
                )
            mini_data += data.ljust(n * mssz, b"\0")
    mini_start = add_chain(bytes(mini_data))
    mf_raw = b"".join(struct.pack("<I", x) for x in minifat)
    pad = (-len(mf_raw)) % ssz
    mf_raw += struct.pack("<I", _CFB_FREE) * (pad // 4)
    minifat_start = add_chain(mf_raw)
    n_minifat_sec = (len(mf_raw) + ssz - 1) // ssz

    def dir_entry(
        name: str, typ: int, start: int, size: int,
        left: int = _CFB_FREE, right: int = _CFB_FREE,
        child: int = _CFB_FREE,
    ) -> bytes:
        nb = name.encode("utf-16-le")[:62]
        e = bytearray(128)
        e[: len(nb)] = nb
        struct.pack_into("<H", e, 64, len(nb) + 2)
        e[66] = typ
        e[67] = 1  # black
        struct.pack_into("<III", e, 68, left, right, child)
        struct.pack_into("<I", e, 116, start)
        struct.pack_into("<Q", e, 120, size)
        return bytes(e)

    dirents = [
        dir_entry(
            "Root Entry", 5, mini_start, len(mini_data),
            child=1 if names else _CFB_FREE,
        )
    ]
    for i, name in enumerate(names):
        right = i + 2 if i + 1 < len(names) else _CFB_FREE
        dirents.append(
            dir_entry(name, 2, starts[name], len(streams[name]), right=right)
        )
    while len(dirents) % (ssz // 128):
        dirents.append(bytes(128))
    dir_start = add_chain(b"".join(dirents))

    n_data = len(sectors)
    n_fat_sec = max(1, (n_data + ssz // 4) // (ssz // 4))
    while (ssz // 4) * n_fat_sec < n_data + n_fat_sec:
        n_fat_sec += 1
    full_fat = fat + [_CFB_FATSEC] * n_fat_sec
    full_fat += [_CFB_FREE] * ((ssz // 4) * n_fat_sec - len(full_fat))
    fat_raw = b"".join(struct.pack("<I", x) for x in full_fat)
    fat_sec_ids = list(range(n_data, n_data + n_fat_sec))
    for i in range(n_fat_sec):
        sectors.append(fat_raw[i * ssz : (i + 1) * ssz])

    hdr = bytearray(512)
    hdr[:8] = _CFB_MAGIC
    struct.pack_into("<HHH", hdr, 24, 0x003E, 3, 0xFFFE)
    struct.pack_into("<HH", hdr, 30, 9, 6)
    struct.pack_into("<I", hdr, 44, n_fat_sec)
    struct.pack_into("<I", hdr, 48, dir_start)
    struct.pack_into("<I", hdr, 56, cutoff)
    struct.pack_into(
        "<I", hdr, 60,
        minifat_start if n_minifat_sec else _CFB_EOC,
    )
    struct.pack_into("<I", hdr, 64, n_minifat_sec)
    struct.pack_into("<I", hdr, 68, _CFB_EOC)
    difat = fat_sec_ids[:109] + [_CFB_FREE] * (109 - min(109, len(fat_sec_ids)))
    struct.pack_into("<109I", hdr, 76, *difat)
    return bytes(hdr) + b"".join(sectors)


def _doc_text_of_bytes(b) -> str | None:
    """Extract text from a legacy binary .doc: CFB walk -> FIB in the
    WordDocument stream -> Clx piece table in the 0Table/1Table
    stream; each piece is cp1252 (fc bit 30 set, "fCompressed") or
    UTF-16LE. Word 6/95 files (nFib < 101) use the contiguous
    [fcMin, fcMac) cp1252 layout."""
    import struct

    if b is None:
        return None
    streams = _cfb_streams(bytes(b))
    if not streams or "WordDocument" not in streams:
        return None
    wd = streams["WordDocument"]
    if len(wd) < 34:
        return None
    w_ident, n_fib = struct.unpack_from("<HH", wd, 0)
    if w_ident not in (0xA5EC, 0xA5DC, 0xA5DB):
        return None
    fc_min, fc_mac = struct.unpack_from("<II", wd, 24)

    def contiguous() -> str:
        return wd[fc_min:fc_mac].decode("cp1252", "replace")

    if n_fib < 101:
        return contiguous()
    flags = struct.unpack_from("<H", wd, 0x0A)[0]
    table = streams.get("1Table" if flags & 0x0200 else "0Table")
    if table is None:
        table = streams.get("0Table") or streams.get("1Table")
    if table is None:
        return contiguous()
    # FIB variable part: csw + fibRgW, cslw + fibRgLw, cbRgFcLcb +
    # fibRgFcLcb; fcClx/lcbClx is pair 33 ([MS-DOC] 2.5.5)
    try:
        pos = 32
        csw = struct.unpack_from("<H", wd, pos)[0]
        pos += 2 + 2 * csw
        cslw = struct.unpack_from("<H", wd, pos)[0]
        pos += 2 + 4 * cslw
        cb = struct.unpack_from("<H", wd, pos)[0]
        pos += 2
        if cb < 34:
            return contiguous()
        fc_clx, lcb_clx = struct.unpack_from("<II", wd, pos + 33 * 8)
        clx = table[fc_clx : fc_clx + lcb_clx]
        i = 0
        while i < len(clx) and clx[i] == 1:  # skip Prc entries
            i += 3 + struct.unpack_from("<H", clx, i + 1)[0]
        if i >= len(clx) or clx[i] != 2:
            return contiguous()
        lcb = struct.unpack_from("<I", clx, i + 1)[0]
        plc = clx[i + 5 : i + 5 + lcb]
        n = (lcb - 4) // 12
        cps = struct.unpack_from(f"<{n + 1}I", plc, 0)
        parts = []
        for k in range(n):
            fc_field = struct.unpack_from(
                "<I", plc, 4 * (n + 1) + 8 * k + 2
            )[0]
            n_chars = cps[k + 1] - cps[k]
            off = fc_field & 0x3FFFFFFF
            if fc_field & 0x40000000:
                parts.append(
                    wd[off // 2 : off // 2 + n_chars].decode("cp1252", "replace")
                )
            else:
                parts.append(
                    wd[off : off + 2 * n_chars].decode("utf-16-le", "replace")
                )
        return "".join(parts)
    except (struct.error, IndexError):
        return contiguous()


def _doc_bytes_of_text(text: str) -> bytes:
    """Render text as a minimal Word97 .doc: WordDocument stream with
    a FIB pointing at a one-piece Clx in 0Table, text stored UTF-16LE
    (piece fc bit 30 clear). Fixture/round-trip helper; deterministic."""
    import struct

    tb = text.encode("utf-16-le")
    ccp = len(tb) // 2
    csw, cslw, cb_rg = 14, 22, 93
    text_off = 1024
    wd = bytearray(text_off + len(tb))
    struct.pack_into("<HH", wd, 0, 0xA5EC, 0x00C1)
    struct.pack_into("<II", wd, 24, text_off, text_off + len(tb))
    pos = 32
    struct.pack_into("<H", wd, pos, csw)
    pos += 2 + 2 * csw
    struct.pack_into("<H", wd, pos, cslw)
    struct.pack_into("<I", wd, pos + 2 + 4 * 3, ccp)  # ccpText
    pos += 2 + 4 * cslw
    struct.pack_into("<H", wd, pos, cb_rg)
    plc = struct.pack("<II", 0, ccp) + struct.pack("<HIH", 0, text_off, 0)
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    struct.pack_into("<II", wd, pos + 2 + 33 * 8, 0, len(clx))
    wd[text_off:] = tb
    return _cfb_bytes({"WordDocument": bytes(wd), "0Table": clx})


# --- Legacy .xls (BIFF8 in the same CFB container). Text carriers:
# the SST shared-string table (0x00FC) + LABELSST cell records
# (0x00FD); LABEL inline strings and NUMBER cells also read.
# Documented subset: CONTINUE records are spliced but a string may
# not straddle the splice boundary ([MS-XLS]).

_XLS_SST = 0x00FC
_XLS_LABELSST = 0x00FD
_XLS_LABEL = 0x0204
_XLS_NUMBER = 0x0203
_XLS_CONTINUE = 0x003C


def _xls_unicode_string(buf: bytes, off: int):
    """Parse one XLUnicodeRichExtendedString; returns (text, next_off)."""
    import struct

    cch = struct.unpack_from("<H", buf, off)[0]
    off += 2
    flags = buf[off]
    off += 1
    c_run = cb_ext = 0
    if flags & 0x08:  # fRichSt
        c_run = struct.unpack_from("<H", buf, off)[0]
        off += 2
    if flags & 0x04:  # fExtSt
        cb_ext = struct.unpack_from("<I", buf, off)[0]
        off += 4
    if flags & 0x01:  # fHighByte -> UTF-16LE
        s = buf[off : off + 2 * cch].decode("utf-16-le", "replace")
        off += 2 * cch
    else:
        s = buf[off : off + cch].decode("latin-1")
        off += cch
    return s, off + 4 * c_run + cb_ext


def _xls_text_of_bytes(b) -> str | None:
    import struct

    if b is None:
        return None
    streams = _cfb_streams(bytes(b))
    if not streams:
        return None
    wb = streams.get("Workbook") or streams.get("Book")
    if wb is None:
        return None
    records: list[tuple[int, bytes]] = []
    pos = 0
    while pos + 4 <= len(wb):
        rtype, rlen = struct.unpack_from("<HH", wb, pos)
        payload = wb[pos + 4 : pos + 4 + rlen]
        pos += 4 + rlen
        if rtype == _XLS_CONTINUE and records:
            records[-1] = (records[-1][0], records[-1][1] + payload)
        else:
            records.append((rtype, payload))
    sst: list[str] = []
    parts: list[str] = []
    for rtype, payload in records:
        try:
            if rtype == _XLS_SST and len(payload) >= 8:
                n_unique = struct.unpack_from("<I", payload, 4)[0]
                off = 8
                for _ in range(n_unique):
                    s, off = _xls_unicode_string(payload, off)
                    sst.append(s)
            elif rtype == _XLS_LABELSST and len(payload) >= 10:
                isst = struct.unpack_from("<I", payload, 6)[0]
                if isst < len(sst):
                    parts.append(sst[isst])
            elif rtype == _XLS_LABEL and len(payload) >= 8:
                s, _ = _xls_unicode_string(payload, 6)
                parts.append(s)
            elif rtype == _XLS_NUMBER and len(payload) >= 14:
                x = struct.unpack_from("<d", payload, 6)[0]
                parts.append(str(int(x)) if x == int(x) else repr(x))
        except (struct.error, IndexError):
            continue
    return " ".join(parts)


def _xls_bytes_of_text(text: str) -> bytes:
    """Minimal BIFF8 workbook: BOF, SST with one UTF-16 string,
    LABELSST at (0,0), EOF — in a real CFB container."""
    import struct

    def rec(rtype: int, payload: bytes) -> bytes:
        return struct.pack("<HH", rtype, len(payload)) + payload

    tb = text.encode("utf-16-le")
    sst = (
        struct.pack("<II", 1, 1)
        + struct.pack("<HB", len(tb) // 2, 0x01)
        + tb
    )
    stream = (
        rec(0x0809, struct.pack("<HHHHI", 0x0600, 0x0005, 0x0DBB, 0x07CC, 0))
        + rec(_XLS_SST, sst)
        + rec(_XLS_LABELSST, struct.pack("<HHHI", 0, 0, 0, 0))
        + rec(0x000A, b"")
    )
    return _cfb_bytes({"Workbook": stream})


# --- Legacy .ppt (binary PowerPoint in the CFB container). Record
# header [u16 verInstance][u16 type][u32 len]; containers (recVer
# nibble 0xF) hold child records; text lives in TextCharsAtom
# (0x0FA0, UTF-16LE) and TextBytesAtom (0x0FA8, latin-1) ([MS-PPT]).

_PPT_TEXTCHARS = 0x0FA0
_PPT_TEXTBYTES = 0x0FA8


def _ppt_walk(buf: bytes, out: list[str]) -> None:
    import struct

    pos = 0
    while pos + 8 <= len(buf):
        ver_inst, rtype, rlen = struct.unpack_from("<HHI", buf, pos)
        payload = buf[pos + 8 : pos + 8 + rlen]
        pos += 8 + rlen
        if (ver_inst & 0x000F) == 0x000F:  # container record
            _ppt_walk(payload, out)
        elif rtype == _PPT_TEXTCHARS:
            out.append(payload.decode("utf-16-le", "replace"))
        elif rtype == _PPT_TEXTBYTES:
            out.append(payload.decode("latin-1"))


def _ppt_text_of_bytes(b) -> str | None:
    if b is None:
        return None
    streams = _cfb_streams(bytes(b))
    if not streams:
        return None
    doc = streams.get("PowerPoint Document")
    if doc is None:
        return None
    out: list[str] = []
    _ppt_walk(doc, out)
    return " ".join(out)


def _ppt_bytes_of_text(text: str) -> bytes:
    """Minimal DocumentContainer > SlideListWithText > TextCharsAtom."""
    import struct

    def rec(ver_inst: int, rtype: int, payload: bytes) -> bytes:
        return struct.pack("<HHI", ver_inst, rtype, len(payload)) + payload

    atom = rec(0x0000, _PPT_TEXTCHARS, text.encode("utf-16-le"))
    slwt = rec(0x000F, 0x0FF0, atom)  # SlideListWithText
    doc = rec(0x000F, 0x03E8, slwt)  # DocumentContainer
    return _cfb_bytes({"PowerPoint Document": doc})


@F.pandas_udf(T.BinaryType())
def render_xls(text: pd.Series) -> pd.Series:
    return text.map(lambda t: None if t is None else _xls_bytes_of_text(t))


@F.pandas_udf(T.BinaryType())
def render_ppt(text: pd.Series) -> pd.Series:
    return text.map(lambda t: None if t is None else _ppt_bytes_of_text(t))


@F.pandas_udf(T.BinaryType())
def render_doc(text: pd.Series) -> pd.Series:
    return text.map(lambda t: None if t is None else _doc_bytes_of_text(t))


@F.pandas_udf(T.BinaryType())
def render_docx(text: pd.Series) -> pd.Series:
    return text.map(lambda t: None if t is None else _docx_bytes_of_text(t))


# --- XLSX / PPTX (OOXML zip containers, same machinery as DOCX) -----------

def _xlsx_text_of_bytes(b) -> str | None:
    """Shared strings (xl/sharedStrings.xml <si><t>) in table order,
    then inline strings (<is><t>) from each worksheet in name order —
    the text a spreadsheet-to-text converter emits."""
    import io as _io
    import re as _re
    import zipfile

    if b is None:
        return None
    try:
        with zipfile.ZipFile(_io.BytesIO(bytes(b))) as zf:
            names = set(zf.namelist())
            if not any(n.startswith("xl/") for n in names):
                return None
            parts = []
            if "xl/sharedStrings.xml" in names:
                xml = zf.read("xl/sharedStrings.xml").decode("utf-8", "replace")
                parts += _re.findall(r"(?s)<t(?: [^>]*)?>(.*?)</t>", xml)
            for n in sorted(names):
                if n.startswith("xl/worksheets/") and n.endswith(".xml"):
                    xml = zf.read(n).decode("utf-8", "replace")
                    for is_blk in _re.findall(r"(?s)<is>(.*?)</is>", xml):
                        parts += _re.findall(
                            r"(?s)<t(?: [^>]*)?>(.*?)</t>", is_blk
                        )
    except Exception:
        return None
    out = " ".join(parts)
    for ent, ch in _XML_ENTITIES:
        out = out.replace(ent, ch)
    import re as _re2

    return _re2.sub(r"\s+", " ", out).strip()


def _xlsx_bytes_of_text(text: str) -> bytes:
    """Minimal valid .xlsx: one shared string, one cell referencing
    it. Deterministic (fixed zip timestamps)."""
    import io as _io
    import zipfile

    esc = (
        text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        ' count="1" uniqueCount="1"><si><t xml:space="preserve">'
        + esc
        + "</t></si></sst>"
    )
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<sheetData><row r="1"><c r="A1" t="s"><v>0</v></c></row></sheetData>'
        "</worksheet>"
    )
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in (
            ("xl/sharedStrings.xml", sst),
            ("xl/worksheets/sheet1.xml", sheet),
        ):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(zi, data, compress_type=zipfile.ZIP_DEFLATED)
    return buf.getvalue()


def _pptx_text_of_bytes(b) -> str | None:
    """All <a:t> text runs across ppt/slides/*.xml in slide order."""
    import io as _io
    import re as _re
    import zipfile

    if b is None:
        return None
    try:
        with zipfile.ZipFile(_io.BytesIO(bytes(b))) as zf:
            slides = sorted(
                n for n in zf.namelist()
                if _re.fullmatch(r"ppt/slides/slide\d+\.xml", n)
            )
            if not slides:
                return None
            runs = []
            for n in slides:
                xml = zf.read(n).decode("utf-8", "replace")
                runs += _re.findall(r"(?s)<a:t(?: [^>]*)?>(.*?)</a:t>", xml)
    except Exception:
        return None
    out = " ".join(runs)
    for ent, ch in _XML_ENTITIES:
        out = out.replace(ent, ch)
    import re as _re2

    return _re2.sub(r"\s+", " ", out).strip()


def _pptx_bytes_of_text(text: str) -> bytes:
    import io as _io
    import zipfile

    esc = (
        text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )
    slide = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
        ' xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main">'
        "<p:cSld><p:spTree><p:sp><p:txBody><a:p><a:r>"
        '<a:t xml:space="preserve">' + esc + "</a:t>"
        "</a:r></a:p></p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
    )
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zi = zipfile.ZipInfo(
            "ppt/slides/slide1.xml", date_time=(1980, 1, 1, 0, 0, 0)
        )
        zf.writestr(zi, slide, compress_type=zipfile.ZIP_DEFLATED)
    return buf.getvalue()


@F.pandas_udf(T.BinaryType())
def render_xlsx(text: pd.Series) -> pd.Series:
    return text.map(lambda t: None if t is None else _xlsx_bytes_of_text(t))


@F.pandas_udf(T.BinaryType())
def render_pptx(text: pd.Series) -> pd.Series:
    return text.map(lambda t: None if t is None else _pptx_bytes_of_text(t))


# --- .epub (EPUB 2/3: zip + OPF manifest/spine) -----------------------------
#
# Tika's "many other formats" long tail (reference doc,
# src/TextExtractor.groovy:12-28): an EPUB is a zip whose
# META-INF/container.xml names an OPF package file; the OPF manifest
# maps ids to chapter hrefs and the spine gives the reading ORDER.
# The extractor walks exactly that chain (falling back to sorted
# *.xhtml entries when the package metadata is absent/broken) and
# strips the XHTML down to text — stdlib zipfile + regex, the same
# zero-dependency stance as the OOXML extractors.


def _epub_text_of_bytes(b) -> str | None:
    import io as _io
    import re as _re
    import zipfile

    if b is None:
        return None
    from urllib.parse import unquote

    def _strip(xml: str) -> str:
        xml = _re.sub(r"(?s)<(script|style)[^>]*>.*?</\1>", " ", xml)
        body = _re.search(r"(?s)<body[^>]*>(.*?)</body>", xml)
        t = body.group(1) if body else xml
        t = _re.sub(r"<[^>]+>", " ", t)
        for ent, ch in _XML_ENTITIES:
            t = t.replace(ent, ch)
        return t

    try:
        with zipfile.ZipFile(_io.BytesIO(bytes(b))) as zf:
            names = zf.namelist()
            chapters: list[str] = []
            try:
                container = zf.read("META-INF/container.xml").decode(
                    "utf-8", "replace"
                )
                opf_path = _re.search(
                    r'full-path="([^"]+)"', container
                ).group(1)
                opf = zf.read(opf_path).decode("utf-8", "replace")
                base = (
                    opf_path.rsplit("/", 1)[0] + "/"
                    if "/" in opf_path
                    else ""
                )
                manifest = dict(
                    _re.findall(
                        r'<item\b[^>]*?\bid="([^"]+)"[^>]*?\bhref="([^"]+)"',
                        opf,
                    )
                )
                for href, iid in _re.findall(
                    r'<item\b[^>]*?\bhref="([^"]+)"[^>]*?\bid="([^"]+)"',
                    opf,
                ):
                    manifest.setdefault(iid, href)
                spine = _re.findall(
                    r'<itemref\b[^>]*?\bidref="([^"]+)"', opf
                )
                # hrefs are IRIs: %-encoded and XML-entity-escaped
                # forms are legal and common — decode BEFORE matching
                # archive entry names (r11 review)
                def deref(h: str) -> str:
                    for ent, ch in _XML_ENTITIES:
                        h = h.replace(ent, ch)
                    return unquote(h)

                chapters = [
                    base + deref(manifest[i]) for i in spine if i in manifest
                ]
            except Exception:
                chapters = []
            parts: list[str] = []
            for name in chapters:
                try:
                    parts.append(
                        _strip(zf.read(name).decode("utf-8", "replace"))
                    )
                except Exception:
                    continue
            if not parts:
                # package metadata missing OR every spine read failed:
                # Tika-style sniff over the archive's markup entries
                for name in sorted(
                    n for n in names
                    if n.endswith((".xhtml", ".html", ".htm"))
                ):
                    try:
                        parts.append(
                            _strip(zf.read(name).decode("utf-8", "replace"))
                        )
                    except Exception:
                        continue
    except Exception:  # not a zip — not an epub
        return None
    if not parts:
        return None
    return _re.sub(r"\s+", " ", " ".join(parts)).strip()


def _epub_bytes_of_text(text: str) -> bytes:
    """Render text as a minimal valid EPUB (stored mimetype first per
    OCF, container.xml -> OPF -> one spine chapter). Fixture/
    round-trip helper; fixed zip timestamps keep output deterministic."""
    import io as _io
    import zipfile

    esc = (
        text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )
    chapter = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<html xmlns="http://www.w3.org/1999/xhtml"><head>'
        "<title>d</title></head><body><p>" + esc + "</p></body></html>"
    )
    opf = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="2.0"'
        ' unique-identifier="id"><metadata/>'
        '<manifest><item id="c1" href="chapter1.xhtml"'
        ' media-type="application/xhtml+xml"/></manifest>'
        '<spine><itemref idref="c1"/></spine></package>'
    )
    container = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<container version="1.0"'
        ' xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
        '<rootfiles><rootfile full-path="OEBPS/content.opf"'
        ' media-type="application/oebps-package+xml"/></rootfiles>'
        "</container>"
    )
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data, comp in (
            ("mimetype", b"application/epub+zip", zipfile.ZIP_STORED),
            ("META-INF/container.xml", container.encode(), zipfile.ZIP_DEFLATED),
            ("OEBPS/content.opf", opf.encode(), zipfile.ZIP_DEFLATED),
            ("OEBPS/chapter1.xhtml", chapter.encode(), zipfile.ZIP_DEFLATED),
        ):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(zi, data, compress_type=comp)
    return buf.getvalue()


@F.pandas_udf(T.BinaryType())
def render_epub(text: pd.Series) -> pd.Series:
    return text.map(lambda t: None if t is None else _epub_bytes_of_text(t))


# --- .msg (Outlook item: CFB container with MAPI property streams) ----------
#
# An Outlook .msg is an OLE2/CFB compound file whose top-level
# streams carry MAPI properties named __substg1.0_<tag><type>:
# subject = tag 0037, body = tag 1000; type 001F is UTF-16LE, 001E
# is the cp1252 variant ([MS-OXMSG]). The CFB walk is the SAME
# from-scratch reader the .doc/.xls/.ppt extractors use.


def _msg_text_of_bytes(b) -> str | None:
    if b is None:
        return None
    streams = _cfb_streams(bytes(b))
    if not streams:
        return None

    def prop(tag: str) -> str | None:
        u = streams.get(f"__substg1.0_{tag}001F")
        if u is not None:
            return u.decode("utf-16-le", "replace")
        a = streams.get(f"__substg1.0_{tag}001E")
        if a is not None:
            return a.decode("cp1252", "replace")
        return None

    subject, body = prop("0037"), prop("1000")
    if subject is None and body is None:
        return None
    return "\n".join(x for x in (subject, body) if x is not None)


def _msg_bytes_of_text(text: str) -> bytes:
    """Render text as a minimal .msg (body property stream only, the
    UTF-16LE 001F form). Fixture/round-trip helper; deterministic."""
    return _cfb_bytes({"__substg1.0_1000001F": text.encode("utf-16-le")})


@F.pandas_udf(T.BinaryType())
def render_msg(text: pd.Series) -> pd.Series:
    return text.map(lambda t: None if t is None else _msg_bytes_of_text(t))


# --- .eml (RFC-5322 email message) ------------------------------------------


def _eml_text_of_bytes(b) -> str | None:
    """Subject + body of a plain RFC-5322 message. Documented subset:
    single-part messages (no MIME multipart/transfer-encoding —
    the renderer below emits exactly this subset; real-world MIME
    mail would need a fuller kernel). Header folding (continuation
    lines) handled."""
    if b is None:
        return None
    raw = bytes(b)
    # EARLIEST of the two blank-line forms wins: an LF-terminated
    # header block followed by a body that itself contains CRLFCRLF
    # must split at the LF blank line, not inside the body (r11
    # review). CRLF headers can't contain "\n\n" before their own
    # CRLFCRLF, so the min-position rule is safe for both framings.
    i_crlf = raw.find(b"\r\n\r\n")
    i_lf = raw.find(b"\n\n")
    if i_lf >= 0 and (i_crlf < 0 or i_lf < i_crlf):
        sep, seplen = i_lf, 2
    else:
        sep, seplen = i_crlf, 4
    if sep < 0:
        return None
    head = raw[:sep].decode("utf-8", "replace")
    body = raw[sep + seplen :].decode("utf-8", "replace")
    # unfold, then find Subject
    lines: list[str] = []
    for ln in head.splitlines():
        if ln[:1] in (" ", "\t") and lines:
            lines[-1] += " " + ln.strip()
        else:
            lines.append(ln)
    if not any(":" in ln for ln in lines):
        return None  # no header block — not an email
    subject = None
    for ln in lines:
        if ln.lower().startswith("subject:"):
            subject = ln[8:].strip()
            break
    return subject + "\n" + body if subject else body


def _eml_bytes_of_text(text: str) -> bytes:
    """Render text as a minimal single-part message (body only — no
    Subject, so extract(render(t)) == t exactly). Deterministic."""
    return (
        b"From: fixtures@example.invalid\r\n"
        b"MIME-Version: 1.0\r\n"
        b"Content-Type: text/plain; charset=utf-8\r\n\r\n"
        + text.encode("utf-8")
    )


@F.pandas_udf(T.BinaryType())
def render_eml(text: pd.Series) -> pd.Series:
    return text.map(lambda t: None if t is None else _eml_bytes_of_text(t))


# --- .ics / .vcf (RFC 5545 iCalendar / RFC 6350 vCard) -----------------------
#
# Both formats share one line grammar: NAME[;PARAMS]:VALUE lines,
# folded at an octet budget with CRLF + single-space continuations,
# and TEXT values escaped as \\ \; \, \n. The round-trip is EXACT
# (no whitespace collapse): escape -> fold on render, unfold ->
# unescape on extract.

_ICAL_FOLD_OCTETS = 75  # RFC 5545 §3.1 / RFC 6350 §3.2: physical lines
#                         SHOULD NOT exceed 75 octets excluding CRLF.
#                         Folding counts encoded UTF-8 octets (ADVICE
#                         r11: a char budget emitted up to ~240-octet
#                         lines for multi-byte text) while keeping
#                         rune boundaries whole; continuation lines
#                         budget one octet for their leading space.


def _ical_escape(t: str) -> str:
    # RFC 5545 TEXT has no escape for a bare CR: every newline form
    # (CRLF, LF, CR) normalizes to \n — the round-trip is exact for
    # CR-free text and newline-normalizing otherwise (documented
    # subset; the fixture corpus and property tests are CR-free)
    return (
        t.replace("\\", "\\\\")
        .replace(";", "\\;")
        .replace(",", "\\,")
        .replace("\r\n", "\\n")
        .replace("\n", "\\n")
        .replace("\r", "\\n")
    )


def _ical_unescape(v: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(v):
        ch = v[i]
        if ch == "\\" and i + 1 < len(v):
            nxt = v[i + 1]
            if nxt in ("n", "N"):
                out.append("\n")
            else:
                out.append(nxt)
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _ical_fold(line: str) -> str:
    if line.isascii():
        # fast path: octets == chars, so plain slicing meets the
        # budget exactly (the per-char encode loop below tripled the
        # extract_text_formats render cost on the ASCII-heavy corpus)
        b = _ICAL_FOLD_OCTETS
        if len(line) <= b:
            return line
        segs = [line[:b]] + [
            line[i : i + b - 1] for i in range(b, len(line), b - 1)
        ]
        return "\r\n ".join(segs)
    segs: list[str] = []
    cur: list[str] = []
    budget = _ICAL_FOLD_OCTETS
    used = 0
    for ch in line:
        n = len(ch.encode("utf-8"))
        if used + n > budget and cur:
            segs.append("".join(cur))
            cur, used = [], 0
            budget = _ICAL_FOLD_OCTETS - 1  # continuation leading space
        cur.append(ch)
        used += n
    segs.append("".join(cur))
    return "\r\n ".join(segs)


def _ical_unfold(raw: str) -> list[str]:
    lines: list[str] = []
    for ln in raw.split("\r\n" if "\r\n" in raw else "\n"):
        if ln[:1] in (" ", "\t") and lines:
            lines[-1] += ln[1:]
        else:
            lines.append(ln)
    return lines


def _ical_prop_value(lines: list[str], name: str) -> str | None:
    """First NAME[;params]:VALUE line's value, or None. The
    name/value ':' separator is the first colon OUTSIDE double
    quotes — quoted parameter values may legally contain ':' (RFC
    5545 3.1/3.2; canonical case DESCRIPTION;ALTREP="cid:...":v)."""
    pfx = name.upper()
    for ln in lines:
        sep = -1
        in_q = False
        for i, ch in enumerate(ln):
            if ch == '"':
                in_q = not in_q
            elif ch == ":" and not in_q:
                sep = i
                break
        if sep < 0:
            continue
        if ln[:sep].split(";", 1)[0].upper() == pfx:
            return ln[sep + 1 :]
    return None


def _ics_text_of_bytes(b) -> str | None:
    """DESCRIPTION of the first VEVENT in an iCalendar stream —
    scoped to the first VEVENT's own property lines, with nested
    components (VALARM) skipped (ADVICE r11: an unscoped lookup
    returned a preceding VALARM/VTODO/VJOURNAL DESCRIPTION on
    real-world calendars). Documented subset: one text-bearing
    property; fuller calendars would need a fuller kernel."""
    if b is None:
        return None
    lines = _ical_unfold(bytes(b).decode("utf-8", "replace"))
    if not lines or _ical_prop_value(lines, "BEGIN") != "VCALENDAR":
        return None
    scoped: list[str] = []
    in_event = False
    nest = 0  # nested components (VALARM) inside the event are skipped
    for ln in lines:
        u = ln.upper()
        if not in_event:
            if u == "BEGIN:VEVENT":
                in_event = True
            continue
        if u == "END:VEVENT" and nest == 0:
            break
        if u.startswith("BEGIN:"):
            nest += 1
        elif u.startswith("END:"):
            nest = max(0, nest - 1)
        elif nest == 0:
            scoped.append(ln)
    if not in_event:
        return None
    v = _ical_prop_value(scoped, "DESCRIPTION")
    return None if v is None else _ical_unescape(v)


def _ics_bytes_of_text(text: str) -> bytes:
    body = "\r\n".join(
        [
            "BEGIN:VCALENDAR",
            "VERSION:2.0",
            "PRODID:-//fixtures//EN",
            "BEGIN:VEVENT",
            "UID:doc@fixtures.invalid",
            "DTSTAMP:19700101T000000Z",
            _ical_fold("DESCRIPTION:" + _ical_escape(text)),
            "END:VEVENT",
            "END:VCALENDAR",
            "",
        ]
    )
    return body.encode("utf-8")


def _vcf_text_of_bytes(b) -> str | None:
    """NOTE property of the first vCard in the stream."""
    if b is None:
        return None
    lines = _ical_unfold(bytes(b).decode("utf-8", "replace"))
    if not lines or _ical_prop_value(lines, "BEGIN") != "VCARD":
        return None
    v = _ical_prop_value(lines, "NOTE")
    return None if v is None else _ical_unescape(v)


def _vcf_bytes_of_text(text: str) -> bytes:
    body = "\r\n".join(
        [
            "BEGIN:VCARD",
            "VERSION:3.0",
            "FN:Fixture Document",
            _ical_fold("NOTE:" + _ical_escape(text)),
            "END:VCARD",
            "",
        ]
    )
    return body.encode("utf-8")


@F.pandas_udf(T.BinaryType())
def render_ics(text: pd.Series) -> pd.Series:
    return text.map(lambda t: None if t is None else _ics_bytes_of_text(t))


@F.pandas_udf(T.BinaryType())
def render_vcf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: None if t is None else _vcf_bytes_of_text(t))


# --- .mbox (RFC 4155 mailbox, mboxrd quoting) --------------------------------


def _mbox_text_of_bytes(b) -> str | None:
    """Concatenated bodies of every message in an mbox, joined with
    a blank line. Messages are delimited by 'From ' postmark lines
    (safe because bodies are mboxrd-quoted on write: any body line
    matching /^>*From / gained one '>', which is stripped here).
    Each message parses through the .eml subset."""
    if b is None:
        return None
    raw = bytes(b)
    if not raw.startswith(b"From "):
        return None
    texts: list[str] = []
    # split on postmark lines: the file starts with one, and every
    # subsequent boundary is "\nFrom " (unquoted by mboxrd rules)
    chunks = raw.split(b"\nFrom ")
    for i, chunk in enumerate(chunks):
        msg = chunk if i == 0 else b"From " + chunk
        # drop the postmark line itself
        nl = msg.find(b"\n")
        if nl < 0:
            continue
        body = _eml_text_of_bytes(msg[nl + 1 :])
        if body is None:
            continue
        # the writer terminates each message with exactly one LF —
        # but for NON-final messages that framing LF is the one the
        # "\nFrom " split already consumed, so only the final chunk
        # still carries it (stripping unconditionally ate a real
        # body-final newline of every non-final message; rstrip
        # would eat newlines that belong to the original text)
        if i == len(chunks) - 1 and body.endswith("\n"):
            body = body[:-1]
        unq = [
            ln[1:] if ln.lstrip(">").startswith("From ") and ln.startswith(">")
            else ln
            for ln in body.split("\n")
        ]
        texts.append("\n".join(unq))
    return "\n\n".join(texts) if texts else None


def _mbox_bytes_of_text(text: str) -> bytes:
    """Render text as a one-message mboxrd file (the extractor
    handles any message count)."""
    quoted = "\n".join(
        ">" + ln if ln.lstrip(">").startswith("From ") else ln
        for ln in text.split("\n")
    )
    return (
        b"From fixtures@example.invalid Thu Jan  1 00:00:00 1970\n"
        b"From: fixtures@example.invalid\n"
        b"MIME-Version: 1.0\n"
        b"Content-Type: text/plain; charset=utf-8\n\n"
        + quoted.encode("utf-8")
        + b"\n"
    )


@F.pandas_udf(T.BinaryType())
def render_mbox(text: pd.Series) -> pd.Series:
    return text.map(lambda t: None if t is None else _mbox_bytes_of_text(t))


#: JVM extractors: ``content`` Column -> text Column, evaluated in
#: whole-stage codegen without crossing into Python
_COLUMN_EXTRACTORS: dict = {
    "utf8": lambda content: F.decode(content, "UTF-8"),
    "html": html_extract,
    "rtf": rtf_extract,
}

#: per-row Python kernels ``bytes -> str | None`` for the container
#: formats (zip/CFB/Flate inflation and binary record walks are not
#: expressible in Column algebra); one Arrow-batched UDF runs them all
_CONTAINER_KERNELS: dict = {
    "pdf": _pdf_text_of_bytes,
    "docx": _docx_text_of_bytes,
    "odt": _odt_text_of_bytes,
    "doc": _doc_text_of_bytes,
    "xls": _xls_text_of_bytes,
    "ppt": _ppt_text_of_bytes,
    "xlsx": _xlsx_text_of_bytes,
    "pptx": _pptx_text_of_bytes,
    "epub": _epub_text_of_bytes,
    "msg": _msg_text_of_bytes,
    "eml": _eml_text_of_bytes,
    "ics": _ics_text_of_bytes,
    "vcf": _vcf_text_of_bytes,
    "mbox": _mbox_text_of_bytes,
}


@F.pandas_udf(T.StringType())
def _container_extract_udf(fmt: pd.Series, content: pd.Series) -> pd.Series:
    """Run each row's format kernel; a NULL ``content`` (a row routed
    to a JVM extractor) stays NULL without a kernel call."""
    return pd.Series(
        [None if b is None else _CONTAINER_KERNELS[f](b) for f, b in zip(fmt, content)],
        dtype=object,
    )


def _container_text(binary_docs: DataFrame, fmt, content) -> "F.Column":
    from ..session import ship_package

    # the kernels live in this package — ship it so executor Python
    # workers can import it (idempotent)
    ship_package(binary_docs.sparkSession)
    return _container_extract_udf(fmt, content)


#: file extension -> extractor name for the auto front door
_EXT_ROUTES: dict[str, str] = {
    "txt": "utf8", "text": "utf8", "xml": "utf8",
    "html": "html", "htm": "html",
    "pdf": "pdf", "docx": "docx", "odt": "odt", "rtf": "rtf",
    "doc": "doc", "xls": "xls", "ppt": "ppt",
    "xlsx": "xlsx", "pptx": "pptx",
    "epub": "epub", "msg": "msg", "eml": "eml",
    "ics": "ics", "vcf": "vcf", "mbox": "mbox",
}


def extract_text_auto(binary_docs: DataFrame, id_offset: int = 0) -> DataFrame:
    """S2 auto front door: route each file to its extractor by
    extension — the reference hands EVERY file to Tika and lets it
    sniff (src/TextExtractor.groovy:12-28); here routing is explicit
    so each format's subset stays documented. Unknown extensions fall
    back to UTF-8 decode, like Tika's text heuristic.

    One projection over one scan: the JVM extractors are a CASE chain
    (only the matching branch runs), and the container UDF sits in
    the ELSE branch. Spark hoists a Python UDF out of any conditional
    and evaluates it on every row, so the UDF is fed NULL for rows
    that a JVM extractor handles — txt/html/rtf bytes never cross
    into Python. Rows whose extractor returns NULL (wrong container)
    keep the NULL so callers can audit failures."""
    ext = F.lower(F.element_at(F.split("path", r"\."), -1))
    routes = F.create_map(*[F.lit(x) for kv in _EXT_ROUTES.items() for x in kv])
    fmt = F.coalesce(F.try_element_at(routes, ext), F.lit("utf8"))
    is_container = fmt.isin(*_CONTAINER_KERNELS)
    text = _container_text(
        binary_docs, F.when(is_container, fmt), F.when(is_container, F.col("content"))
    )
    for name, extract in _COLUMN_EXTRACTORS.items():
        text = F.when(fmt == name, extract(F.col("content"))).otherwise(text)
    return _documents(binary_docs, text, id_offset)


def read_mentions_csv(spark: SparkSession, path: str) -> DataFrame:
    """S4 — read .ner.csv mention files with the fixed schema (no
    inference scan)."""
    return spark.read.csv(path, schema=MENTION_CSV_SCHEMA, header=False)


# S10 — one <TAG>span</TAG> or a run of untagged text
_SEGMENT_RE = r"<([A-Z]+)>(.*?)</\1>|([^<]+)"
_TOKEN_RE = r"[A-Za-z0-9'-]+|[^\sA-Za-z0-9]"


def xml_to_token_tags(tagged_docs: DataFrame, xml_col: str = "xml") -> DataFrame:
    """S10 — entity-tagged XML text -> one row per (doc, token, tag).

    Tags inside <PERSON>..</PERSON>-style spans get the element name,
    everything else 'O' (src/XMLToTSVConverter.groovy:29-40 semantics).
    All JVM regex (regexp_extract_all + posexplode); per-doc token
    order is preserved by (seg_pos, tok_pos) so the TSV sink can write
    the original sequence.
    """
    # the four column expressions are pure functions of xml_col —
    # memoized per session (session.expr_memo): every NER query
    # rebuilds this tokenizer stream at construction (~0.1 s of py4j
    # chatter x 11 queries per bench sweep)
    from ..session import expr_memo

    seg_expr = expr_memo(
        ("xml_tt_seg", xml_col),
        lambda: F.posexplode(
            F.regexp_extract_all(F.col(xml_col), F.lit(_SEGMENT_RE), F.lit(0))
        ),
    )
    tag_expr = expr_memo(
        ("xml_tt_tag",),
        lambda: F.when(
            F.col("segment").startswith("<"),
            F.regexp_extract("segment", _SEGMENT_RE, 1),
        )
        .otherwise("O")
        .alias("tag"),
    )
    seg_text_expr = expr_memo(
        ("xml_tt_seg_text",),
        lambda: F.when(
            F.col("segment").startswith("<"),
            F.regexp_extract("segment", _SEGMENT_RE, 2),
        )
        .otherwise(F.col("segment"))
        .alias("seg_text"),
    )
    tok_expr = expr_memo(
        ("xml_tt_tok",),
        lambda: F.posexplode(
            F.regexp_extract_all(F.col("seg_text"), F.lit(_TOKEN_RE), F.lit(0))
        ),
    )
    seq_expr = expr_memo(
        ("xml_tt_seq",),
        lambda: (F.col("seg_pos") * 100000 + F.col("tok_pos")).alias(
            "token_seq"
        ),
    )
    segs = tagged_docs.select(
        "doc_id", seg_expr.alias("seg_pos", "segment")
    )
    segs = segs.select("doc_id", "seg_pos", tag_expr, seg_text_expr)
    toks = segs.select(
        "doc_id", "seg_pos", "tag", tok_expr.alias("tok_pos", "token")
    )
    return toks.select("doc_id", "token", "tag", seq_expr)
