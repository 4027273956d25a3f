#!/usr/bin/env python3
"""Compare two directories of formatted physical plans, operator by operator.

Usage: python3 tools/plandiff.py <dirA> <dirB>

Each directory is the output of `graft.Dev plans <sfDir> <outDir> <suffix> ALL`:
one `<name>_<suffix>.txt` per registered operator. The suffix may differ
between the two directories. Before comparing, each plan is normalized so
that two runs of the same code compare equal:

  - `#N` expression ids and `plan_id=N` exchange ids are renumbered in order
    of first appearance, so a consistent renaming compares equal and a
    swapped reference does not;
  - temporary-directory suffixes (`/tmp/graft_csv684247...`) are dropped;
  - lambda and object identities (`$$Lambda$6053/0x00007f...@22e0965c`,
    `Foo$@74ea19b1`) are dropped;
  - `.scala:<line>` source positions are dropped.

For every operator it prints IDENTICAL or DIFFERS, the shuffle and broadcast
Exchange counts on each side, and for DIFFERS the first differing line pair.
An operator present on one side only is MISSING. Exits 1 when any operator
DIFFERS or is MISSING, else 0.

A query with several DISTINCT aggregates can list its Expand projections in
another order when the queries planned before it in the same JVM changed:
Spark groups the distinct aggregates by expression-id hash. Re-plan such an
operator alone on both sides (`... plans <sfDir> <outDir> <suffix> <name>`)
before reading its DIFFERS as a change.

Dev tooling only, not part of the shipped library.
"""
import os
import re
import sys

EXPR_ID = re.compile(r"#(\d+)")
PLAN_ID = re.compile(r"plan_id=(\d+)")
TMP_SUFFIX = re.compile(r"(/tmp/[^/\s,\]]*?)-?\d{4,}(?=[/\s,\]]|$)", re.M)
LAMBDA = re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+")
OBJECT_ID = re.compile(r"(\w\$?)@[0-9a-f]{4,8}\b")
SCALA_LINE = re.compile(r"\.scala:\d+")
SHUFFLE = re.compile(r"^\(\d+\) Exchange\b", re.M)
BROADCAST = re.compile(r"^\(\d+\) BroadcastExchange\b", re.M)


def renumber(pattern, prefix, text):
    seen = {}
    def sub(m):
        return prefix + str(seen.setdefault(m.group(1), len(seen)))
    return pattern.sub(sub, text)


def normalize(text):
    text = renumber(EXPR_ID, "#", text)
    text = renumber(PLAN_ID, "plan_id=", text)
    text = TMP_SUFFIX.sub(r"\1", text)
    text = LAMBDA.sub("$$Lambda", text)
    text = OBJECT_ID.sub(r"\1@obj", text)
    return SCALA_LINE.sub(".scala", text)


def plans(d):
    """Operator name -> plan text, with the `_<suffix>.txt` tail removed."""
    out = {}
    for f in os.listdir(d):
        if f.endswith(".txt") and "_" in f:
            with open(os.path.join(d, f)) as fh:
                out[f[:f.rindex("_")]] = fh.read()
    return out


def counts(text):
    return len(SHUFFLE.findall(text)), len(BROADCAST.findall(text))


def first_difference(a, b):
    al, bl = a.splitlines(), b.splitlines()
    for i in range(max(len(al), len(bl))):
        x = al[i] if i < len(al) else "<end of plan>"
        y = bl[i] if i < len(bl) else "<end of plan>"
        if x != y:
            return i + 1, x, y
    return None


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = plans(argv[1]), plans(argv[2])
    if not a and not b:
        sys.exit("no <name>_<suffix>.txt plan files in either directory")
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"MISSING    {name}  (only in {'A' if name in a else 'B'})")
            bad += 1
            continue
        na, nb = normalize(a[name]), normalize(b[name])
        (sa, ba), (sb, bb) = counts(na), counts(nb)
        verdict = "IDENTICAL" if na == nb else "DIFFERS"
        print(f"{verdict:<10} {name:<36} exchanges {sa}/{sb}  broadcasts {ba}/{bb}")
        if na != nb:
            bad += 1
            line, x, y = first_difference(na, nb)
            print(f"    line {line}\n    A: {x[:240]}\n    B: {y[:240]}")
    total = len(set(a) | set(b))
    print(f"{total - bad} IDENTICAL, {bad} DIFFERS or MISSING, of {total}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
