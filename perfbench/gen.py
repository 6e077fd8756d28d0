"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of (seed, corpus texts): the same seed
writes byte-identical files. The program under test only ever sees the
files and JSON written here, never the generator's random state.

File formats are written by this module itself (zlib, zipfile, struct),
not by the program's own writers, so a change to a codec cannot change the
inputs it is measured on.
"""
import json
import math
import os
import random
import struct
import zipfile
import zlib

# The upload traffic below is assumed, not measured: the corpus carries no
# file types, and the reference embeds each upload as its own job, so
# nothing fixes a format mix or a batch size (README, "Input assumptions").
# Share of each upload format (weights, not percentages).
FORMAT_MIX = (("txt", 30), ("md", 18), ("pdf", 24), ("docx", 24), ("png", 4))
CORRUPT_SHARE = 0.01            # truncated pdf/docx/png uploads
MIN_FILE_CHARS, MAX_FILE_CHARS = 300, 6000
FILES_PER_BATCH = 500
# per-batch code needs about 20 batches before batch time stops falling;
# 100 files a batch also warm the per-file code
WARM_BATCHES, WARM_FILES_PER_BATCH = 24, 100
CORRUPTIBLE = ("pdf", "docx", "png")
CORRUPTIBLE_SHARE = sum(w for f, w in FORMAT_MIX if f in CORRUPTIBLE) / sum(w for _, w in FORMAT_MIX)

def rng_for(seed, purpose):
    """Independent deterministic stream per (seed, purpose)."""
    return random.Random("%d:%s" % (seed, purpose))


def load_texts(path):
    """Document texts of a documents.parquet, in doc_id order."""
    import pyarrow.parquet as pq
    t = pq.read_table(path, columns=["doc_id", "text"]).sort_by("doc_id")
    return [s for s in t.column("text").to_pylist() if s and s.strip()]


# ---- encoders ----

def pdf_escape(s):
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)").replace("\r", "\\r")


def encode_pdf(pages):
    """A valid PDF: one FlateDecode content stream per page, real xref."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    n = len(pages)
    font = 3 + 2 * n

    def obj(data):
        offsets.append(len(out))
        out.extend(data)

    obj(b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    kids = " ".join("%d 0 R" % (3 + 2 * i) for i in range(n))
    obj(("2 0 obj << /Type /Pages /Kids [%s] /Count %d >> endobj\n" % (kids, n)).encode())
    for i, text in enumerate(pages):
        page, cont = 3 + 2 * i, 4 + 2 * i
        obj(("%d 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
             "/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >> endobj\n"
             % (page, font, cont)).encode())
        body = zlib.compress(("BT /F1 12 Tf 72 720 Td (%s) Tj ET" % pdf_escape(text)).encode("utf-8"), 6)
        obj(("%d 0 obj << /Length %d /Filter /FlateDecode >> stream\n" % (cont, len(body))).encode()
            + body + b"\nendstream endobj\n")
    obj(("%d 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n" % font).encode())
    xref = len(out)
    out.extend(("xref\n0 %d\n0000000000 65535 f \n" % (len(offsets) + 1)).encode())
    for o in offsets:
        out.extend(("%010d 00000 n \n" % o).encode())
    out.extend(("trailer << /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
                % (len(offsets) + 1, xref)).encode())
    return bytes(out)


def xml_escape(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


DOCX_TYPES = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
              '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
              '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
              '<Default Extension="xml" ContentType="application/xml"/>'
              '<Override PartName="/word/document.xml" ContentType="application/'
              'vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/></Types>')
DOCX_RELS = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
             '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/'
             'relationships/officeDocument" Target="word/document.xml"/></Relationships>')


def encode_docx(paras):
    import io
    body = "".join('<w:p><w:r><w:t xml:space="preserve">%s</w:t></w:r></w:p>' % xml_escape(p)
                   for p in paras)
    doc = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
           '<w:body>%s</w:body></w:document>' % body)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, content in (("[Content_Types].xml", DOCX_TYPES), ("_rels/.rels", DOCX_RELS),
                              ("word/document.xml", doc)):
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))  # fixed: byte-identical
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, content.encode("utf-8"))
    return buf.getvalue()


def png_chunk(kind, data):
    return struct.pack(">I", len(data)) + kind + data + struct.pack(">I", zlib.crc32(kind + data) & 0xFFFFFFFF)


def encode_png(rng):
    """8-bit grayscale PNG with a seeded stripe pattern."""
    w, h = rng.randrange(24, 97), rng.randrange(16, 65)
    period, base = rng.randrange(3, 12), rng.randrange(0, 128)
    rows = b"".join(b"\x00" + bytes((base + 127 * (((x // period) + (y // period)) % 2)) & 255
                                    for x in range(w)) for y in range(h))
    return (b"\x89PNG\r\n\x1a\n" + png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            + png_chunk(b"IDAT", zlib.compress(rows, 6)) + png_chunk(b"IEND", b""))


def truncate(fmt, data):
    """A corrupt upload: cut where the codec cannot recover any text."""
    if fmt == "pdf":  # inside the first content stream
        s = data.index(b"stream\n") + len(b"stream\n")
        return data[:s + 4]
    return data[:len(data) // 2]


def batch_plan(rng, n):
    """Formats and target sizes of one batch, stratified so every batch has
    the same format counts and the same log-uniform size spread: seeds then
    differ in content and order, not in how much work a batch is."""
    total = sum(w for _, w in FORMAT_MIX)
    counts = {f: n * w // total for f, w in FORMAT_MIX}
    by_rest = sorted(FORMAT_MIX, key=lambda fw: -(n * fw[1] % total))  # largest remainder
    for f, _ in by_rest[:n - sum(counts.values())]:
        counts[f] += 1
    fmts = [f for f, _ in FORMAT_MIX for _ in range(counts[f])]
    lo, hi = math.log(MIN_FILE_CHARS), math.log(MAX_FILE_CHARS)
    sizes = [math.exp(lo + (i + rng.random()) / n * (hi - lo)) for i in range(n)]
    rng.shuffle(fmts)
    rng.shuffle(sizes)
    return list(zip(fmts, sizes))


def file_paragraphs(rng, texts, target):
    """Paragraphs of one upload: consecutive corpus docs up to `target` chars."""
    start = rng.randrange(len(texts))
    paras, size, i = [], 0, start
    while size < target:
        p = texts[i % len(texts)]
        paras.append(p)
        size += len(p) + 2
        i += 1
    return paras


def make_upload(rng, texts, name_stem, fmt, target):
    """One upload: (file name, bytes, manifest entry)."""
    corrupt = fmt in CORRUPTIBLE and rng.random() < CORRUPT_SHARE / CORRUPTIBLE_SHARE
    paras = file_paragraphs(rng, texts, target)
    expected = "\n\n".join(paras)
    if fmt == "txt":
        data = expected.encode("utf-8")
    elif fmt == "md":
        expected = "# " + " ".join(paras[0].split(" ")[:4]) + "\n\n" + expected
        data = expected.encode("utf-8")
    elif fmt == "pdf":
        per_page = rng.randrange(1, 4)
        pages = ["\n".join(paras[i:i + per_page]) for i in range(0, len(paras), per_page)]
        data = encode_pdf(pages)
        expected = "\n\n".join(pages)
    elif fmt == "docx":
        data = encode_docx(paras)
    else:
        data = encode_png(rng)
        expected = None  # image text comes from the vision/OCR providers
    if corrupt:
        data = truncate(fmt, data)
        expected = None
    name = "%s.%s" % (name_stem, fmt)
    return name, data, {"name": name, "fmt": fmt, "corrupt": corrupt, "text": expected}


def write_batches(root, rng, texts, n_batches, files_per_batch, prefix):
    """n_batches directories of uploads under root; returns their manifests."""
    batches = []
    for b in range(n_batches):
        d = os.path.join(root, "%s%04d" % (prefix, b))
        os.makedirs(d, exist_ok=True)
        entries = []
        for f, (fmt, target) in enumerate(batch_plan(rng, files_per_batch)):
            name, data, entry = make_upload(rng, texts, "%s%04d_%03d" % (prefix, b, f), fmt, target)
            with open(os.path.join(d, name), "wb") as fh:
                fh.write(data)
            entries.append(entry)
        batches.append({"dir": os.path.relpath(d, os.path.dirname(root)), "files": entries})
    return batches


def query_text(rng, texts):
    words = texts[rng.randrange(len(texts))].split(" ")
    n = rng.randrange(3, 8)
    s = rng.randrange(max(1, len(words) - n))
    return " ".join(words[s:s + n])


def generate(workload, seed, out_dir, testdata, seconds):
    """Write the inputs of one workload run into out_dir; returns the
    manifest (also written to out_dir/manifest.json)."""
    os.makedirs(out_dir, exist_ok=True)
    timed = load_texts(os.path.join(testdata, "sf0.1", "documents.parquet"))
    warm = load_texts(os.path.join(testdata, "sf0.01", "documents.parquet"))
    m = {"workload": workload, "seed": seed}
    if workload == "ingest":
        m["warm"] = write_batches(os.path.join(out_dir, "warm"), rng_for(seed, "warm"),
                                  warm, WARM_BATCHES, WARM_FILES_PER_BATCH, "w")
        m["timed_batches"] = max(4, seconds)
        m["timed"] = write_batches(os.path.join(out_dir, "timed"), rng_for(seed, "timed"),
                                   timed, max(11, seconds), FILES_PER_BATCH, "t")
        m["reader_queries"] = [query_text(rng_for(seed, "reader"), timed) for _ in range(400)]
    elif workload == "curation":
        m["order_seed"] = seed
    else:
        raise ValueError("unknown workload " + workload)
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(m, fh, sort_keys=True)
    return m
