#!/usr/bin/env python3
"""Net line delta of src/main between two revisions, per file and in total.

Usage: python3 tools/srcdelta.py BASE [HEAD]

BASE and HEAD are git revisions; without HEAD the working tree (tracked
and untracked, non-ignored files) is compared against BASE. Each file is
counted two ways: all lines, and code lines only (a line that is neither
blank nor wholly inside a // or /* */ comment). Deleting a comment moves
the first count but not the second.
"""
import subprocess
import sys

ROOT = "src/main"


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def files_at(rev):
    if rev is None:
        out = git("ls-files", "--cached", "--others", "--exclude-standard", ROOT)
    else:
        out = git("ls-tree", "-r", "--name-only", rev, "--", ROOT)
    return set(out.split())


def text_at(rev, path):
    if rev is None:
        try:
            with open(path, encoding="utf-8") as f:
                return f.read()
        except FileNotFoundError:  # deleted but still in the index
            return ""
    return git("show", f"{rev}:{path}")


def counts(text):
    """(all lines, code lines) of C-family source (Scala, Java)."""
    lines = text.splitlines()
    code = 0
    in_block = False
    in_triple = False
    for line in lines:
        has_code = False
        i = 0
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    break
                in_block, i = False, end + 2
            elif in_triple:
                has_code = True
                end = line.find('"""', i)
                if end < 0:
                    break
                in_triple, i = False, end + 3
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                in_block, i = True, i + 2
            elif line.startswith('"""', i):
                has_code, in_triple, i = True, True, i + 3
            elif line[i] == '"':
                has_code = True
                i += 1
                while i < len(line) and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            else:
                has_code = has_code or not line[i].isspace()
                i += 1
        code += has_code
    return len(lines), code


def main(argv):
    if not 2 <= len(argv) <= 3:
        sys.exit(__doc__)
    base, head = argv[1], (argv[2] if len(argv) == 3 else None)
    fa, fb = files_at(base), files_at(head)
    rows = []
    for path in sorted(fa | fb):
        a = counts(text_at(base, path)) if path in fa else (0, 0)
        b = counts(text_at(head, path)) if path in fb else (0, 0)
        if a != b:
            rows.append((path, a, b))
    fmt = "{:>7} {:>7} {:>7} {:>7} {:>7} {:>7}  {}"
    print(fmt.format("all", "all", "net", "code", "code", "net", "file"))
    print(fmt.format("base", "head", "all", "base", "head", "code", ""))
    ta, tb = [0, 0], [0, 0]
    for path, a, b in rows:
        print(fmt.format(a[0], b[0], f"{b[0] - a[0]:+d}",
                         a[1], b[1], f"{b[1] - a[1]:+d}", path))
        for k in range(2):
            ta[k] += a[k]
            tb[k] += b[k]
    print(fmt.format(ta[0], tb[0], f"{tb[0] - ta[0]:+d}",
                     ta[1], tb[1], f"{tb[1] - ta[1]:+d}",
                     f"total ({len(rows)} files changed)"))


if __name__ == "__main__":
    main(sys.argv)
