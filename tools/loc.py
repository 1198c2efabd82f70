#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per file at two revisions.

    tools/loc.py BASE HEAD [PATH ...]

BASE and HEAD are git revisions; `.` stands for the working tree. Each
PATH is a file or a directory (default: src/main/scala); every .scala
file under it at either revision is counted. A line counts when it holds
at least one character outside comments, so deleting or rewording
comments never shows up as a change. Prints one row per file
(BASE, HEAD, delta) and the totals.
"""
import subprocess
import sys


def code_lines(text):
    """Non-blank lines with code outside `//` and (nested) `/* */`
    comments; comment markers inside string and character literals
    do not count as comments."""
    count = 0
    depth = 0  # block-comment nesting, carried across lines
    triple = False  # inside a """ string, carried across lines
    for line in text.split("\n"):
        has_code = False
        i, n = 0, len(line)
        while i < n:
            if triple:
                has_code = True
                end = line.find('"""', i)
                if end < 0:
                    i = n
                else:
                    triple = False
                    i = end + 3
                continue
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            c = line[i]
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth = 1
                i += 2
                continue
            if c.isspace():
                i += 1
                continue
            has_code = True
            if line.startswith('"""', i):
                triple = True
                i += 3
            elif c == '"':
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < n and (
                    line[i + 2] == "'" or line[i + 1] == "\\"):
                end = line.find("'", i + 2)
                i = n if end < 0 else end + 1
            else:
                i += 1
        if has_code:
            count += 1
    return count


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def files_at(rev, paths):
    if rev == ".":
        out = git("ls-files", "--cached", "--others", "--exclude-standard",
                  "--", *paths)
    else:
        out = git("ls-tree", "-r", "--name-only", rev, "--", *paths)
    return {f for f in out.split("\n") if f.endswith(".scala")}


def read_at(rev, path):
    if rev == ".":
        try:
            with open(path, encoding="utf-8") as fh:
                return fh.read()
        except FileNotFoundError:
            return None
    try:
        return git("show", f"{rev}:{path}")
    except subprocess.CalledProcessError:
        return None


def main(argv):
    if len(argv) < 3 or argv[1] in ("-h", "--help"):
        print(__doc__.strip())
        return 0 if len(argv) > 1 else 2
    base, head = argv[1], argv[2]
    paths = argv[3:] or ["src/main/scala"]
    files = sorted(files_at(base, paths) | files_at(head, paths))
    tot_a = tot_b = 0
    width = max([len(f) for f in files] + [5])
    print(f"{'file':<{width}} {base[:10]:>10} {head[:10]:>10} {'delta':>7}")
    for f in files:
        a_src, b_src = read_at(base, f), read_at(head, f)
        a = code_lines(a_src) if a_src is not None else 0
        b = code_lines(b_src) if b_src is not None else 0
        tot_a += a
        tot_b += b
        print(f"{f:<{width}} {a:>10} {b:>10} {b - a:>+7}")
    print(f"{'total':<{width}} {tot_a:>10} {tot_b:>10} {tot_b - tot_a:>+7}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
