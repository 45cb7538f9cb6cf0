"""Unit tests of tools/loc.py's line classifier.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import classify  # noqa: E402


class ClassifyTest(unittest.TestCase):
    def test_comment_marker_inside_triple_quotes_is_string(self):
        src = ('val q = s"""SELECT 1\n'
               '  // not a comment\n'
               '  FROM t"""\n')
        self.assertEqual(classify(src), ["code", "string", "string"])

    def test_code_comment_blank(self):
        src = ("val a = 1 // trailing comment\n"
               "// whole-line comment\n"
               "\n"
               "  def f = 2\n")
        self.assertEqual(classify(src), ["code", "comment", "blank", "code"])

    def test_scaladoc_and_nested_block_comments(self):
        src = ("/** doc\n"
               "  * /* nested */ still doc\n"
               "  */\n"
               "object X /* tail */\n")
        self.assertEqual(classify(src),
                         ["comment", "comment", "comment", "code"])

    def test_slashes_in_ordinary_strings_and_chars_are_code(self):
        src = ('val u = "http://x" // c\n'
               "val c = '\"'\n"
               'val t = """a"""; val v = 1\n'
               "val w = 2\n")
        self.assertEqual(classify(src), ["code", "code", "code", "code"])

    def test_blank_line_inside_string_is_string(self):
        src = 'val s = """a\n\nb"""\nval z = 0\n'
        self.assertEqual(classify(src), ["code", "string", "string", "code"])

    def test_run_of_four_quotes_closes_on_the_last_three(self):
        src = 'val s = """a\nb""""\n// after\n'
        self.assertEqual(classify(src), ["code", "string", "comment"])


if __name__ == "__main__":
    unittest.main()
