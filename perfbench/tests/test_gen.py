"""Determinism and input-property tests for the workload generator.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import io
import os
import random
import re
import struct
import sys
import tempfile
import unittest
import zipfile
import zlib

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402

WORDS = "spark line column order small sort fast value scan hash slow group agg filter query".split()


def corpus(n=200, seed=7):
    r = random.Random(seed)
    return [" ".join(r.choice(WORDS) for _ in range(r.randrange(10, 110))) for _ in range(n)]


def tree_digest(root):
    """sha256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for dp, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def testdata():
    return os.environ.get("GRAFT_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))


class DeterminismTest(unittest.TestCase):
    def batches(self, seed, root):
        return gen.write_batches(os.path.join(root, "b"), gen.rng_for(seed, "t"), corpus(), 3, 40, "t")

    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ma, mb = self.batches(5, a), self.batches(5, b)
            self.assertEqual(ma, mb)
            self.assertEqual(tree_digest(a), tree_digest(b))

    def test_other_seed_gives_other_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.batches(5, a)
            self.batches(6, b)
            self.assertNotEqual(tree_digest(a), tree_digest(b))

    @unittest.skipUnless(os.path.exists(os.path.join(testdata(), "sf0.1", "documents.parquet")),
                         "test corpus not present")
    def test_generate_is_byte_identical_per_workload(self):
        for workload in ("ingest", "curation"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(workload, 3, a, testdata(), 1)
                gen.generate(workload, 3, b, testdata(), 1)
                self.assertEqual(tree_digest(a), tree_digest(b), workload)


class InputPropertiesTest(unittest.TestCase):
    def test_every_batch_has_the_same_format_counts_and_size_spread(self):
        plans = [gen.batch_plan(gen.rng_for(s, "plan"), 40) for s in range(5)]
        counts = [sorted((f, sum(1 for g, _ in p if g == f)) for f, _ in gen.FORMAT_MIX) for p in plans]
        self.assertEqual(counts[0], counts[-1])
        self.assertEqual(dict(counts[0]), {"txt": 12, "md": 7, "pdf": 10, "docx": 10, "png": 1})
        for p in plans:
            sizes = sorted(t for _, t in p)
            self.assertGreaterEqual(sizes[0], gen.MIN_FILE_CHARS)
            self.assertLessEqual(sizes[-1], gen.MAX_FILE_CHARS)
            self.assertLess(sizes[0], gen.MIN_FILE_CHARS * 1.1)   # one size per log-stratum
            self.assertGreater(sizes[-1], gen.MAX_FILE_CHARS * 0.9)

    def test_corrupt_share_and_expected_text(self):
        with tempfile.TemporaryDirectory() as d:
            batches = gen.write_batches(d, gen.rng_for(1, "props"), corpus(), 50, 40, "b")
        ups = [f for b in batches for f in b["files"]]
        corrupt = sum(f["corrupt"] for f in ups) / len(ups)
        self.assertGreater(corrupt, 0.002)
        self.assertLess(corrupt, 0.025)
        for f in ups:
            self.assertEqual(f["text"] is None, f["corrupt"] or f["fmt"] == "png")
            if f["text"] is not None:
                self.assertGreaterEqual(len(f["text"]), gen.MIN_FILE_CHARS)

    def test_pdf_is_well_formed_and_carries_its_text(self):
        pages = ["alpha (beta) gamma", "delta \\ epsilon"]
        data = gen.encode_pdf(pages)
        self.assertTrue(data.startswith(b"%PDF-1.4"))
        xref = int(data.rsplit(b"startxref\n", 1)[1].split(b"\n")[0])
        offsets = [int(x) for x in re.findall(rb"(\d{10}) 00000 n", data[xref:])]
        for i, off in enumerate(offsets):
            self.assertTrue(data[off:].startswith(b"%d 0 obj" % (i + 1)))
        streams = re.findall(rb"stream\n(.*?)\nendstream", data, re.S)
        shown = [zlib.decompress(s).decode() for s in streams]
        self.assertIn("(alpha \\(beta\\) gamma) Tj", shown[0])

    def test_docx_holds_one_paragraph_per_input(self):
        data = gen.encode_docx(["one & two", "three <four>"])
        with zipfile.ZipFile(io.BytesIO(data)) as z:
            doc = z.read("word/document.xml").decode()
        self.assertEqual(doc.count("<w:p>"), 2)
        self.assertIn("one &amp; two", doc)

    def test_png_chunks_have_valid_crcs(self):
        data = gen.encode_png(random.Random(3))
        self.assertTrue(data.startswith(b"\x89PNG\r\n\x1a\n"))
        pos = 8
        kinds = []
        while pos < len(data):
            n = struct.unpack(">I", data[pos:pos + 4])[0]
            kind, body = data[pos + 4:pos + 8], data[pos + 8:pos + 8 + n]
            crc = struct.unpack(">I", data[pos + 8 + n:pos + 12 + n])[0]
            self.assertEqual(crc, zlib.crc32(kind + body) & 0xFFFFFFFF)
            kinds.append(kind)
            pos += 12 + n
        self.assertEqual(kinds, [b"IHDR", b"IDAT", b"IEND"])

    def test_corrupt_pdf_keeps_no_complete_stream(self):
        data = gen.truncate("pdf", gen.encode_pdf(["some text"]))
        self.assertNotIn(b"endstream", data)


if __name__ == "__main__":
    unittest.main()
