#!/usr/bin/env python3
"""Line counts for the Scala main sources, split by what each line holds.

Every line of every ``.scala`` file under ``src/main`` lands in exactly
one class:

  string   the line starts inside a triple-quoted string literal
           (mostly the DuckDB mirror SQL), whatever it contains;
  code     otherwise, any character outside comments and whitespace;
  comment  otherwise, a ``//`` or ``/* */`` comment (ScalaDoc included);
  blank    otherwise.

A line that opens a triple-quoted string after some code (``Some(s\"\"\"WITH``)
is code; the lines after it, up to and including the closing quotes, are
string.

Usage (from the repository root):
  python3 tools/loc.py [--files]

Prints the totals, and with ``--files`` one row per file above them.
"""
import argparse
import os
import sys

ROOT = "src/main"
CLASSES = ("code", "comment", "blank", "string")


def classify(text):
    """Return one class name per line of ``text`` (Scala source)."""
    out = []
    in_triple = False   # inside a triple-quoted string
    depth = 0           # block-comment nesting depth (Scala nests them)
    for line in text.split("\n"):
        starts_in_string = in_triple
        has_code = False
        has_comment = depth > 0
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if in_triple:
                j = line.find('"""', i)
                if j < 0:
                    i = n
                    break
                # a run of 4+ quotes closes on its last three
                k = j + 3
                while k < n and line[k] == '"':
                    k += 1
                in_triple = False
                i = k
            elif depth > 0:
                has_comment = True
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif line.startswith("//", i):
                has_comment = True
                break
            elif line.startswith("/*", i):
                has_comment = True
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_triple = True
                i += 3
            elif c == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and (line.startswith("'", i + 2)
                               or (line.startswith("\\", i + 1)
                                   and line.startswith("'", i + 3))):
                # a character literal: 'x' or '\x' (may be a quote char)
                has_code = True
                i += 3 if line[i + 1] != "\\" else 4
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if starts_in_string:
            out.append("string")
        elif has_code:
            out.append("code")
        elif has_comment:
            out.append("comment")
        else:
            out.append("blank")
    # a trailing newline does not start another line
    if text.endswith("\n"):
        out.pop()
    return out


def count(root):
    """{relative path: {class: lines}} for every .scala file under root."""
    per_file = {}
    for dirpath, _, names in os.walk(root):
        for name in sorted(names):
            if not name.endswith(".scala"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as f:
                kinds = classify(f.read())
            per_file[os.path.relpath(path, root)] = {
                k: kinds.count(k) for k in CLASSES}
    return dict(sorted(per_file.items()))


def total(per_file):
    return {k: sum(v[k] for v in per_file.values()) for k in CLASSES}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--files", action="store_true", help="one row per file")
    a = ap.parse_args(argv)
    per_file = count(ROOT)
    tot = total(per_file)
    fmt = "{:>7} {:>8} {:>6} {:>7} {:>7}  {}"
    print(fmt.format("code", "comment", "blank", "string", "all", "file"))
    rows = per_file.items() if a.files else []
    for path, c in rows:
        print(fmt.format(c["code"], c["comment"], c["blank"], c["string"],
                         sum(c.values()), path))
    print(fmt.format(tot["code"], tot["comment"], tot["blank"], tot["string"],
                     sum(tot.values()), "TOTAL"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
