#!/usr/bin/env python3
"""Count code lines of the Scala sources under src/main, per package.

A code line is a line with at least one character outside comments and
whitespace: blank lines, `//` comments and `/* */` blocks (scaladoc
included, nesting honoured) do not count; string literals do.

    python3 scripts/loc.py                 # working tree, per package
    python3 scripts/loc.py --diff HEAD~1   # net change against a commit

The package is the file's directory under src/main/scala, dotted.
"""
import argparse
import collections
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "src/main/scala"


def code_lines(text):
    """Number of lines of `text` that hold Scala code."""
    count = 0
    depth = 0          # block-comment nesting
    in_str = None      # None, '"' or '"""'
    has_code = False
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            count += has_code
            has_code = False
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif in_str:
            has_code = has_code or not c.isspace()
            if in_str == '"' and c == "\\":
                i += 2
            elif text.startswith(in_str, i):
                # a triple-quoted literal may end in more than three quotes
                while in_str == '"""' and text.startswith('""""', i):
                    i += 1
                i += len(in_str)
                in_str = None
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif c == '"':
            has_code = True
            in_str = '"""' if text.startswith('"""', i) else '"'
            i += len(in_str)
        elif c == "'":
            has_code = True
            # a char literal ('x', '\n', 'A') may hold a quote
            if text.startswith("'\\", i):
                j = text.find("'", i + 2)
                i = j + 1 if j > 0 else i + 1
            elif i + 2 < n and text[i + 2] == "'":
                i += 3
            else:
                i += 1
        else:
            has_code = has_code or not c.isspace()
            i += 1
    return count + has_code


def package_of(path):
    return os.path.dirname(os.path.relpath(path, SRC)).replace(os.sep, ".") or "<root>"


def tree_counts():
    counts = collections.Counter()
    for d, _, files in os.walk(os.path.join(ROOT, SRC)):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    counts[package_of(os.path.relpath(p, ROOT))] += code_lines(fh.read())
    return counts


def rev_counts(rev):
    def git(*args):
        return subprocess.run(["git", "-C", ROOT, *args], check=True,
                              capture_output=True).stdout.decode("utf-8")
    counts = collections.Counter()
    for p in git("ls-tree", "-r", "--name-only", rev, "--", SRC).split("\n"):
        if p.endswith(".scala"):
            counts[package_of(p)] += code_lines(git("show", f"{rev}:{p}"))
    return counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--diff", metavar="REV",
                    help="also print the net change against this commit")
    args = ap.parse_args()
    now = tree_counts()
    if not args.diff:
        for pkg in sorted(now):
            print(f"{now[pkg]:7d}  {pkg}")
        print(f"{sum(now.values()):7d}  total")
        return 0
    before = rev_counts(args.diff)
    print(f"{args.diff:>8}  {'now':>7}  {'net':>7}  package")
    for pkg in sorted(set(now) | set(before)):
        print(f"{before[pkg]:8d}  {now[pkg]:7d}  {now[pkg] - before[pkg]:+7d}  {pkg}")
    b, a = sum(before.values()), sum(now.values())
    print(f"{b:8d}  {a:7d}  {a - b:+7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
