"""Run: python3 -m unittest discover -s tools -p 'test_*.py'"""
import contextlib
import io
import os
import tempfile
import unittest

import loc


class CountLinesTest(unittest.TestCase):
    def test_blank_and_comment_lines_do_not_count(self):
        src = [
            "package graft\n",
            "\n",
            "   \n",
            "// a line comment\n",
            "  /** scaladoc opens\n",
            "    * scaladoc body\n",
            "    */\n",
            "/* block */\n",
            "object A {\n",
            "  val x = 1 // a trailing comment keeps the line\n",
            "}\n",
        ]
        self.assertEqual(loc.count_lines(src), 4)

    def test_code_containing_comment_markers_counts(self):
        self.assertEqual(loc.count_lines(['val url = "file:///tmp"\n', "val y = 2 * 3\n"]), 2)


class TreeTest(unittest.TestCase):
    def test_counts_only_scala_files_and_prints_a_total(self):
        with tempfile.TemporaryDirectory() as root:
            os.makedirs(os.path.join(root, "a", "b"))
            with open(os.path.join(root, "a", "One.scala"), "w") as f:
                f.write("object One\n\n// note\n")
            with open(os.path.join(root, "a", "b", "Two.scala"), "w") as f:
                f.write("object Two {\n  val z = 0\n}\n")
            with open(os.path.join(root, "a", "notes.md"), "w") as f:
                f.write("not scala\n")
            per_file = loc.counts([root])
            self.assertEqual(sorted(per_file.values()), [1, 3])
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                loc.main([root])
            lines = out.getvalue().splitlines()
            self.assertTrue(lines[0].endswith("Two.scala"))
            self.assertEqual(lines[-1].split(), ["4", "total"])


if __name__ == "__main__":
    unittest.main()
