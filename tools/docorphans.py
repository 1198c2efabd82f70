#!/usr/bin/env python3
"""List scaladoc blocks that document nothing.

    tools/docorphans.py     # exit 1 if any block is orphaned

A `/** ... */` block in src/main/scala is orphaned when the next thing
after it, with only whitespace between, is another `/**` block: scaladoc
attaches only the block directly above a definition, so the first one is
lost from the generated docs (and usually belonged to a definition that
moved away from it). Each finding prints as `<file>:<line>` of the
orphaned block's opening line. String literals are skipped, so a `/**`
inside a string is not a block.
"""
import os
import re
import sys

MAIN = "src/main/scala"

# Strings first, so that a comment marker inside a string stays a string.
LEXEME = re.compile(
    r'"""[\s\S]*?"""'
    r'|"(?:\\.|[^"\\\n])*"'
    r"|'(?:\\.|[^'\\\n])'"
    r"|//[^\n]*"
    r"|/\*[\s\S]*?\*/"
)


def orphans(text):
    """Opening offsets of the doc blocks followed only by another one."""
    found = []
    for m in LEXEME.finditer(text):
        if not m.group().startswith("/**"):
            continue
        rest = text[m.end():]
        if rest.lstrip().startswith("/**"):
            found.append(m.start())
    return found


def main():
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    n = 0
    for dirpath, _, files in sorted(os.walk(os.path.join(root, MAIN))):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            path = os.path.join(dirpath, f)
            text = open(path, encoding="utf-8").read()
            for off in orphans(text):
                rel = os.path.relpath(path, root)
                print(f"{rel}:{text.count(chr(10), 0, off) + 1}")
                n += 1
    print(f"{n} orphaned doc blocks")
    return 1 if n else 0


if __name__ == "__main__":
    sys.exit(main())
