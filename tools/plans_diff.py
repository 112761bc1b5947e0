#!/usr/bin/env python3
"""Diff two `graft.PlansFiles` output directories, masking what varies
between any two JVM runs of the same commit.

    sbt "runMain graft.PlansFiles <dirA> a name1,name2"   # one checkout
    sbt "runMain graft.PlansFiles <dirB> b name1,name2"   # the other
    python3 tools/plans_diff.py <dirA> <dirB>

Files are paired by query name (`<name>_<suffix>.txt`; the suffix must
not contain `_`); every plan in either directory is compared. To compare
a subset, write only those plans: `graft.PlansFiles` takes the query
names. Masked before comparing:

  - expression ids `#123`
  - `plan_id=123`
  - `RDD[123]` and its creation site `at <method> at File.scala:45`
  - run-unique temp/table names `local-<applicationId>` (`local_…` once
    sanitized into a table name), and the checkout a `spark-warehouse/`
    table lives under
  - JVM lambda names `$$Lambda$123/0x…@…` and the identity hash of
    anonymous-class instances `$$anon$1@5f3a2b`

Still NOT masked: the Expand column order of multi-distinct aggregates
(table_profile, golden_record), which also differs between two runs of
the same commit.

Prints a unified diff per differing plan, the plans present on only one
side, and a summary line; exits 0 when every plan is on both sides and
matches.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\] at (\w+) at [\w$.]+\.scala:\d+"), r"RDD[N] at \1 at <site>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"local([-_])\d+"), r"local\1<app>"),
    (re.compile(r"file:\S*/spark-warehouse/"), "file:<checkout>/spark-warehouse/"),
    (re.compile(r"\$\$Lambda(\$\d+)?/0x[0-9a-f]+(@[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"(\$\$anon\$\d+)@[0-9a-f]+"), r"\1@<obj>"),
]


def mask(text):
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def plans(d):
    """query name -> path, from `<name>_<suffix>.txt` files."""
    out = {}
    for f in os.listdir(d):
        if f.endswith(".txt") and "_" in f:
            out[f[: f.rindex("_")]] = os.path.join(d, f)
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = plans(argv[1]), plans(argv[2])
    same, differ, one_side = 0, [], []
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            one_side.append(name)
            continue
        with open(a[name]) as fa, open(b[name]) as fb:
            la, lb = mask(fa.read()).splitlines(), mask(fb.read()).splitlines()
        if la == lb:
            same += 1
            continue
        differ.append(name)
        sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
            la, lb, a[name], b[name], lineterm="", n=1))
    print(f"{same} identical, {len(differ)} differ, {len(one_side)} on one side only")
    if differ:
        print("differ: " + " ".join(differ))
    if one_side:
        print("on one side only: " + " ".join(one_side))
    return 0 if not differ and not one_side else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
