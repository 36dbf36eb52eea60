#!/usr/bin/env python3
"""Main-code size yardstick: code lines and Catalyst expression classes.

Usage: python3 tools/loc.py [REV]

Counts the Scala sources under src/main of the working tree, or of git
revision REV (read through `git show`, no checkout), and prints:

  - code lines: every line except blank lines and comment lines, the
    same filter as `grep -cvE '^\\s*$|^\\s*(//|/\\*\\*|\\*|\\*/)'`;
  - expression classes: declarations extending `Expression`,
    `UnaryExpression` or `BinaryExpression`, and those extending
    `SketchScalar`.
"""
import os
import re
import subprocess
import sys

SKIP = re.compile(r"^\s*$|^\s*(//|/\*\*|\*|\*/)")
EXPR = re.compile(r"\bextends\s+(?:Unary|Binary)?Expression\b")
SCALAR = re.compile(r"\bextends\s+SketchScalar\b")


def sources(rev):
    """(path, text) of every .scala file under src/main."""
    if rev is None:
        for root, _, files in os.walk("src/main"):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(root, f)
                    with open(p, encoding="utf-8") as fh:
                        yield p, fh.read()
        return
    names = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "src/main"],
                           check=True, capture_output=True, text=True).stdout.split()
    for p in names:
        if p.endswith(".scala"):
            yield p, subprocess.run(["git", "show", f"{rev}:{p}"], check=True,
                                    capture_output=True, text=True).stdout


def main():
    rev = sys.argv[1] if len(sys.argv) > 1 else None
    files = code = exprs = scalars = 0
    for _, text in sources(rev):
        files += 1
        code += sum(1 for line in text.splitlines() if not SKIP.match(line))
        exprs += len(EXPR.findall(text))
        scalars += len(SCALAR.findall(text))
    print(f"src/main ({rev or 'working tree'}): {files} files")
    print(f"code lines: {code}")
    print(f"expression classes: {exprs} (Unary|Binary)?Expression + "
          f"{scalars} SketchScalar = {exprs + scalars}")


if __name__ == "__main__":
    main()
