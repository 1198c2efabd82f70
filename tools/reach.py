#!/usr/bin/env python3
"""List main definitions that nothing references.

    tools/reach.py          # unlisted entries; exit 1 if there are any
    tools/reach.py --all    # every entry, the allowlisted ones marked

A definition is a `def`, `val`, `var`, `object`, `class`, `trait` or
`type` declared in src/main/scala. `override`s are skipped, since the
type they override is what calls them, and so are `implicit`s, which
are used without being named. It is unreferenced when its name
occurs nowhere in src/main, src/test or perfbench/src except at the
sites that define that name. A use in a test counts: some main
definitions exist only for a spec to compare against (the declarative
references of the native expressions). Comments do not count as uses;
string literals do, because an interpolated `$name` is a use.

Names are matched by spelling, not by scope, so a name that any other
scope also uses is never reported: the list errs towards silence. It is
built from one count of every identifier in one pass over the files.

An entry is `<file stem>.<name>`. ALLOWED below holds the entries kept
on purpose, each with its reason; an allowlisted entry that is no longer
unreferenced is printed as stale.
"""
import collections
import os
import re
import sys

ROOTS = ["src/main", "src/test", "perfbench/src"]
MAIN = "src/main"

BROKER = ("the reference's broker path; it needs the spark-sql-kafka "
          "connector, which is not on this build's classpath")
ENTRY = "a driver main, started by `sbt runMain` (README.md)"
ALLOWED = {
    "Kafka.writeStreamTo": BROKER,
    "Kafka.writeBatchTo": BROKER,
    "Kafka.readStreamFrom": BROKER,
    "Bench.main": ENTRY,
    "Verify.Verify": ENTRY,
    "Verify.main": ENTRY,
    "ScaleLab.ScaleGen": ENTRY,
    "ScaleLab.main": ENTRY,
    "SparkEntry.entry": "the driver contract's flagship query "
    "(SURVEY.md §7), called by the program that loads SparkEntry",
    "Event.IncomingEvent": "the ingest-edge event type of the model "
    "(SURVEY.md, core model)",
    "Tables.eventsAsEnvelope": "the props-access operator in SURVEY.md's "
    "operator table (T10)",
}

# Comments, string literals and character literals, in source order, so
# that a comment marker inside a string is part of the string.
LEXEME = re.compile(
    r'"""[\s\S]*?"""'
    r'|"(?:\\.|[^"\\\n])*"'
    r"|'(?:\\.|[^'\\\n])'"
    r"|//[^\n]*"
    r"|/\*[\s\S]*?\*/"
)
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEFINITION = re.compile(
    r"\b(?:def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)")


def blank(text):
    """`text` with every newline kept and every other character spaced
    out, so that offsets and line numbers do not move."""
    return re.sub(r"[^\n]", " ", text)


def strip(source):
    """(source without comments, source without comments or strings)."""
    uses, code = [], []
    last = 0
    for m in LEXEME.finditer(source):
        lexeme = m.group()
        kept = blank(lexeme) if lexeme.startswith("/") else lexeme
        uses.append(source[last:m.start()] + kept)
        code.append(source[last:m.start()] + blank(lexeme))
        last = m.end()
    uses.append(source[last:])
    code.append(source[last:])
    return "".join(uses), "".join(code)


def scala_files(root):
    for base, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(base, f)


def main(argv):
    show_all = "--all" in argv
    repo = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    os.chdir(repo)
    occurrences = collections.Counter()
    def_sites = collections.Counter()
    main_defs = []  # (entry, file, line, name)
    for root in ROOTS:
        for path in scala_files(root):
            with open(path, encoding="utf-8") as fh:
                uses, code = strip(fh.read())
            occurrences.update(IDENT.findall(uses))
            for m in DEFINITION.finditer(code):
                name = m.group(1)
                def_sites[name] += 1
                line_start = code.rfind("\n", 0, m.start()) + 1
                if not path.startswith(MAIN) or \
                        re.search(r"\b(?:override|implicit)\b",
                                  code[line_start:m.start()]):
                    continue
                stem = os.path.splitext(os.path.basename(path))[0]
                line = code.count("\n", 0, m.start()) + 1
                main_defs.append((f"{stem}.{name}", path, line, name))
    unreferenced = [d for d in main_defs
                    if occurrences[d[3]] <= def_sites[d[3]]]
    found = {d[0] for d in unreferenced}
    unlisted = 0
    for entry, path, line, _ in unreferenced:
        if entry in ALLOWED:
            if show_all:
                print(f"{path}:{line}: {entry} (allowed: {ALLOWED[entry]})")
        else:
            unlisted += 1
            print(f"{path}:{line}: {entry} is referenced nowhere")
    for entry in sorted(set(ALLOWED) - found):
        print(f"stale allowlist entry: {entry} is referenced now")
    print(f"reach: {len(main_defs)} main definitions, "
          f"{len(unreferenced)} unreferenced, {unlisted} not allowlisted")
    return 1 if unlisted else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
