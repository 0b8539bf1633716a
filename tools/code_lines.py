#!/usr/bin/env python3
"""Code-line count of every src/main/scala file, at a git revision.

Usage: python3 tools/code_lines.py [REV]

Without REV the working tree is counted; with REV (a commit, tag or
branch) the files as committed at REV are, read through `git show`.
A code line is a line that, once stripped, is not empty and does not
start with `//`, `*` or `/**`. Prints one `<lines>  <path>` row per file,
sorted by path, then the total.
"""
import pathlib
import subprocess
import sys

ROOT = "src/main/scala"
SKIP = ("//", "*", "/**")


def code_lines(text: str) -> int:
    return sum(1 for ln in text.splitlines()
               if (s := ln.strip()) and not s.startswith(SKIP))


def sources(rev):
    """(path, text) of every .scala file under ROOT, at `rev` or on disk."""
    if rev is None:
        for p in sorted(pathlib.Path(ROOT).rglob("*.scala")):
            yield p.as_posix(), p.read_text(encoding="utf-8")
        return
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", ROOT],
        check=True, capture_output=True, text=True).stdout.split()
    for name in sorted(n for n in names if n.endswith(".scala")):
        yield name, subprocess.run(
            ["git", "show", f"{rev}:{name}"],
            check=True, capture_output=True, text=True).stdout


def main(argv):
    if len(argv) > 2 or (len(argv) == 2 and argv[1].startswith("-")):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    rev = argv[1] if len(argv) == 2 else None
    total = 0
    for path, text in sources(rev):
        n = code_lines(text)
        total += n
        print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
