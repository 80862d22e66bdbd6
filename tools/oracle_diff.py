#!/usr/bin/env python3
"""Compare two `graft.DumpOracles` dumps, ignoring whitespace.

A refactor of the oracle SQL (shared fragments instead of pasted text) must
leave every oracle's text unchanged up to whitespace. This script checks that:
it deletes every whitespace character outside single-quoted SQL literals,
keeps the literals verbatim (a space inside '...' is data, not layout), and
compares the two dumps name by name.

Usage (dump each tree with `sbt "runMain graft.DumpOracles <out.json>"`):

    python3 tools/oracle_diff.py before.json after.json

Prints the names that were added, that are missing, and whose text differs,
then a one-line summary. Exits 0 when the dumps match, 1 on any difference.
"""
import json
import sys


def squeeze(sql):
    """`sql` with every whitespace character outside '...' literals deleted.

    A quote inside a `--` comment opens no literal; the comment ends at the
    line break, so the break is kept as its end marker."""
    out = []
    in_lit = in_comment = False
    for i, ch in enumerate(sql):
        if in_comment:
            if ch == "\n":
                in_comment = False
                out.append(ch)
            elif not ch.isspace():
                out.append(ch)
            continue
        if ch == "'":
            in_lit = not in_lit
        elif not in_lit and sql.startswith("--", i):
            in_comment = True
        if in_lit or not ch.isspace():
            out.append(ch)
    return "".join(out)


def first_difference(a, b):
    """A short excerpt of both squeezed texts around where they part."""
    i = next((k for k, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
    lo = max(0, i - 40)
    return f"    before: ...{a[lo:i + 40]}...\n    after:  ...{b[lo:i + 40]}..."


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[0], file=sys.stderr)
        print("usage: oracle_diff.py BEFORE.json AFTER.json", file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        before = json.load(f)
    with open(argv[2]) as f:
        after = json.load(f)
    added = sorted(set(after) - set(before))
    missing = sorted(set(before) - set(after))
    differ = []
    for name in sorted(set(before) & set(after)):
        a, b = squeeze(before[name]), squeeze(after[name])
        if a != b:
            differ.append((name, first_difference(a, b)))
    for name in added:
        print(f"added:   {name}")
    for name in missing:
        print(f"missing: {name}")
    for name, excerpt in differ:
        print(f"differs: {name}\n{excerpt}")
    same = len(set(before) & set(after)) - len(differ)
    print(f"{same} same, {len(differ)} differ, {len(added)} added, {len(missing)} missing")
    return 1 if added or missing or differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
