#!/usr/bin/env python3
"""Line counts of the main Scala sources, with one fixed comment filter.

Prints one JSON line: raw lines, and non-blank non-comment ("ncnb") lines,
over every *.scala file under src/main/scala. Run from the repo root:

    python3 tools/src_lines.py                  # working tree
    python3 tools/src_lines.py --rev HEAD~1     # a commit, read through git

The filter, applied to each line after stripping surrounding whitespace:
  - blank lines are not code;
  - a line starting with `//` is a comment;
  - a line starting with `/*` opens a block comment that runs to the next
    `*/`; every line inside the block is a comment, and text after the
    closing `*/` on its last line counts as code when it is not itself a
    `//` comment.
Everything else is code, including a code line that ends in a comment.
Keep the filter fixed so counts from different commits compare.
"""
import json
import os
import subprocess
import sys


def ncnb(lines):
    """Number of non-blank non-comment lines under the filter above."""
    code = 0
    in_block = False
    for raw in lines:
        s = raw.strip()
        if in_block:
            end = s.find("*/")
            if end < 0:
                continue
            in_block = False
            s = s[end + 2:].strip()
        elif s.startswith("/*"):
            end = s.find("*/", 2)
            if end < 0:
                in_block = True
                continue
            s = s[end + 2:].strip()
        if s and not s.startswith("//"):
            code += 1
    return code


ROOT = "src/main/scala"


def sources(rev):
    """Text of every *.scala file under ROOT, at `rev` or on disk."""
    if rev:
        names = subprocess.run(
            ["git", "ls-tree", "-r", "--name-only", rev, "--", ROOT],
            check=True, capture_output=True, text=True).stdout.split()
        for n in sorted(names):
            if n.endswith(".scala"):
                yield subprocess.run(
                    ["git", "show", f"{rev}:{n}"],
                    check=True, capture_output=True, text=True).stdout
        return
    for d, _, files in sorted(os.walk(ROOT)):
        for f in sorted(files):
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    yield fh.read()


def main(argv):
    rev = argv[1] if argv[:1] == ["--rev"] and len(argv) == 2 else None
    if argv and rev is None:
        sys.exit("usage: src_lines.py [--rev <commit>]")
    files = raw = code = 0
    for text in sources(rev):
        lines = text.splitlines()
        files += 1
        raw += len(lines)
        code += ncnb(lines)
    print(json.dumps({"rev": rev or "worktree", "root": ROOT,
                      "files": files, "raw": raw, "ncnb": code}))


if __name__ == "__main__":
    main(sys.argv[1:])
