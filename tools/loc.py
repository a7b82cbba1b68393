#!/usr/bin/env python3
"""Count Scala code lines under src/main and src/test at two git revisions.

Usage: python3 tools/loc.py BASE [HEAD] [-- PATH...]

A line counts when it is neither blank nor comment: lines whose text
starts with `//` and lines inside `/* ... */` blocks (Scaladoc
included) do not count; a line with code before or after a block
comment does. Files are read with `git ls-tree` / `git show`, so
neither revision is checked out. HEAD defaults to `HEAD`. Paths after
`--` replace the default roots, one output row each (e.g.
`-- src/main/scala/graft/streaming`).
"""
import subprocess
import sys

ROOTS = ("src/main", "src/test")


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def code_lines(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        rest = line
        code = ""
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    rest = ""
                else:
                    rest = rest[end + 2:]
                    in_block = False
            else:
                start = rest.find("/*")
                if start < 0:
                    code += rest
                    rest = ""
                else:
                    code += rest[:start]
                    rest = rest[start + 2:]
                    in_block = True
        code = code.strip()
        if code and not code.startswith("//"):
            n += 1
    return n


def count(rev, root):
    files = git("ls-tree", "-r", "--name-only", rev, "--", root).split()
    return sum(code_lines(git("show", f"{rev}:{f}"))
               for f in files if f.endswith(".scala"))


def main(argv):
    revs, roots = argv[1:], ROOTS
    if "--" in revs:
        i = revs.index("--")
        revs, roots = revs[:i], tuple(revs[i + 1:])
    if len(revs) not in (1, 2) or not roots:
        sys.exit(__doc__.strip().splitlines()[2])
    base = revs[0]
    head = revs[1] if len(revs) == 2 else "HEAD"
    width = max(10, max(len(r) for r in roots) + 2)
    print(f"{'':{width}}{base[:12]:>14}{head[:12]:>14}{'delta':>10}")
    for root in roots:
        b, h = count(base, root), count(head, root)
        print(f"{root:{width}}{b:>14,}{h:>14,}{h - b:>+10,}")


if __name__ == "__main__":
    main(sys.argv)
