#!/usr/bin/env python3
"""Count Scala code lines per file in two source trees and print the change.

A code line is a line with at least one character outside a comment and
outside leading/trailing whitespace. `//` line comments, `/* */` block
comments (nested, as Scala nests them) and `/** */` scaladoc are comments;
a `//` or `/*` inside a string or character literal is not.

Usage:
    python3 tools/codelines.py BEFORE_DIR AFTER_DIR [--under PATH ...] [--all]

BEFORE_DIR and AFTER_DIR are two checkouts of the repository, for example
a `git archive` copy of the parent commit and the working tree. `--under`
restricts the count to the given relative files, or to the files below the
given relative directories (default: `src`). Files are matched by their
path relative to the tree. The output
is a markdown table of every file whose count differs (every file with
`--all`), largest change first, with the totals below it.
"""

import argparse
import os
import sys

SKIP_DIRS = {"target", ".git", ".bench_build", "node_modules"}


def code_lines(text):
    """The number of lines of `text` that hold code outside comments."""
    count = 0
    depth = 0          # block-comment nesting depth
    in_str = None      # None, '"' or '"""'
    for line in text.split("\n"):
        has_code = False
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth > 0:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str == '"""':
                has_code = True
                if line.startswith('"""', i):
                    # a run of quotes closes on its last three
                    j = i
                    while j < n and line[j] == '"':
                        j += 1
                    in_str = None
                    i = j
                else:
                    i += 1
                continue
            if in_str == '"':
                has_code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
                continue
            if c.isspace():
                i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_str = '"""'
                i += 3
            elif c == '"':
                has_code = True
                in_str = '"'
                i += 1
            elif c == "'":
                has_code = True
                # a character literal: 'x' or an escape like '\n'
                if i + 2 < n and line[i + 1] == "\\":
                    end = line.find("'", i + 2)
                    i = end + 1 if end > 0 else i + 1
                elif i + 2 < n and line[i + 2] == "'":
                    i += 3
                else:
                    i += 1
            else:
                has_code = True
                i += 1
        if in_str == '"':
            in_str = None  # a plain string literal never spans lines
        if has_code:
            count += 1
    return count


def scala_files(tree, unders):
    """{relative path: code lines} for the Scala files below `unders`."""
    out = {}
    for under in unders:
        base = os.path.join(tree, under)
        if os.path.isfile(base):
            with open(base, encoding="utf-8") as fh:
                out[os.path.relpath(base, tree)] = code_lines(fh.read())
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames
                                 if d not in SKIP_DIRS and not d.startswith("."))
            for f in filenames:
                if f.endswith(".scala"):
                    p = os.path.join(dirpath, f)
                    with open(p, encoding="utf-8") as fh:
                        out[os.path.relpath(p, tree)] = code_lines(fh.read())
    return out


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--under", action="append",
                    help="relative file or directory to count (repeatable; default src)")
    ap.add_argument("--all", action="store_true",
                    help="list unchanged files too")
    args = ap.parse_args(argv)
    unders = args.under or ["src"]
    before = scala_files(args.before, unders)
    after = scala_files(args.after, unders)
    rows = []
    for path in sorted(set(before) | set(after)):
        b, a = before.get(path), after.get(path)
        if args.all or b != a:
            rows.append((path, b, a, (a or 0) - (b or 0)))
    rows.sort(key=lambda r: (r[3], r[0]))
    print("| file | before | after | delta |")
    print("|---|---|---|---|")
    for path, b, a, d in rows:
        print(f"| {path} | {'—' if b is None else b} | "
              f"{'—' if a is None else a} | {d:+d} |")
    tb, ta = sum(before.values()), sum(after.values())
    print()
    print(f"total below {', '.join(unders)}: {tb} -> {ta} ({ta - tb:+d}) "
          f"in {len(before)} -> {len(after)} files")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
