#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query.

Each dump is split on its `========== name ==========` headers. Ids
that differ between runs of the same plan are stripped before the
compare: expression ids (`#123`, `#123L`), exchange ids
(`plan_id=123`), RDD ids (`RDD[123]`), the source line of an RDD's
call site (`Similarity.scala:1013`, which moves with any edit above
it), lambda class names and object identity hashes (`[D@d05e909` in a
plan constant) and the
application id in temporary paths (`local-1792604612065`).

Prints the queries whose plans differ (and those present in one dump
only) and exits 1 if there are any, else prints the count compared and
exits 0.

Usage: python3 scripts/plan_diff.py <dumpA> <dumpB>
"""
import re
import sys

HEADER = re.compile(r"^========== (.+) ==========$")
IDS = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(\.scala):\d+"), r"\1"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$"),
    (re.compile(r"@[0-9a-f]+\b"), "@"),
    (re.compile(r"local-\d+"), "local-"),
]


def normalise(line):
    for pat, rep in IDS:
        line = pat.sub(rep, line)
    return line.rstrip()


def plans(path):
    """{query name: normalised plan lines} of one dump."""
    out, name = {}, None
    with open(path) as f:
        for line in f:
            m = HEADER.match(line.rstrip("\n"))
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None:
                out[name].append(normalise(line))
    return {n: "\n".join(ls).strip() for n, ls in out.items()}


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    a, b = plans(argv[0]), plans(argv[1])
    only = sorted(set(a) ^ set(b))
    differ = sorted(n for n in set(a) & set(b) if a[n] != b[n])
    for n in only:
        print(f"{n}: in {'A' if n in a else 'B'} only")
    for n in differ:
        print(f"{n}: plan differs")
    if only or differ:
        print(f"== {len(differ)} differ, {len(only)} unmatched ==")
        return 1
    print(f"== {len(a)} plans identical ==")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
