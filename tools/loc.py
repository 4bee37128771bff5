#!/usr/bin/env python3
"""Count Scala code lines: non-blank lines outside comments.

A line is skipped when it is blank, when it is a `//` line comment, or
when it lies in (or opens or closes) a `/* ... */` block, scaladoc
included, that holds no code of its own. `package` and `import` lines
count as code.

    python3 tools/loc.py                  # total per source root
    python3 tools/loc.py PATH [PATH ...]  # per file, then the total

A directory PATH is expanded to the `.scala` files below it. Compare two
revisions by running the script in a checkout of each
(`git archive REV | tar -x -C DIR`).
"""
import os
import sys

ROOTS = ["src/main", "src/test", "perfbench/scala"]


def code_lines(text):
    """Code lines of one Scala source."""
    n = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        code = False
        while s:
            if in_block:
                end = s.find("*/")
                if end < 0:
                    s = ""
                else:
                    in_block = False
                    s = s[end + 2:].strip()
            elif s.startswith("//"):
                s = ""
            elif s.startswith("/*"):
                in_block = True
                s = s[2:]
            else:
                code = True
                break
        n += code
    return n


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    out = []
    for d, _, fs in os.walk(path):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def count(path):
    with open(path, encoding="utf-8") as f:
        return code_lines(f.read())


def main(args):
    if args:
        total = 0
        for p in args:
            for f in scala_files(p):
                c = count(f)
                total += c
                print(f"{c:7d}  {f}")
        print(f"{total:7d}  total")
        return
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for root in ROOTS:
        files = scala_files(os.path.join(here, root))
        print(f"{sum(map(count, files)):7d}  {root}")


if __name__ == "__main__":
    main(sys.argv[1:])
