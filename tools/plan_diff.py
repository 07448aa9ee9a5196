#!/usr/bin/env python3
"""Compare two `graft.tools.ExplainDump` output directories.

    python3 tools/plan_diff.py A_DIR B_DIR [--diff]

ExplainDump writes one `<query>_<suffix>.txt` formatted plan per query;
files pair up by query name (the part before the last `_`), so the two
sides may use different suffixes. Before comparing, each plan is masked
of what changes from run to run or with unrelated edits: expression ids
(`#123`), plan ids, RDD ids, lambda class names, object hashes
(`@1a2b3c`) and `at File.scala:NN` call-site labels.

Prints the names of queries whose masked plans differ, or that exist on
one side only (`--diff` adds a unified diff per differing query), and
exits 1 when there is any; exits 0 when every plan matches. Compare
dumps made at the same `SPARK_GRAFT_CPUS`: plans depend on the width.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"@[0-9a-f]+\b"), "@H"),
    (re.compile(r" at [\w$]+\.scala:\d+"), " at <call site>"),
]


def mask(text):
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def plans(directory):
    out = {}
    for name in sorted(os.listdir(directory)):
        if name.endswith(".txt"):
            with open(os.path.join(directory, name), encoding="utf-8") as f:
                out[name[:-4].rsplit("_", 1)[0]] = mask(f.read())
    return out


def main(argv):
    args = [a for a in argv if a != "--diff"]
    if len(args) != 2:
        print("usage: plan_diff.py A_DIR B_DIR [--diff]", file=sys.stderr)
        return 2
    a, b = plans(args[0]), plans(args[1])
    differing = []
    for q in sorted(a.keys() | b.keys()):
        if q not in a or q not in b:
            print(f"{q}: only in {args[0] if q in a else args[1]}")
        elif a[q] != b[q]:
            print(q)
            if "--diff" in argv:
                sys.stdout.writelines(difflib.unified_diff(
                    a[q].splitlines(True), b[q].splitlines(True),
                    f"{args[0]}/{q}", f"{args[1]}/{q}"))
        else:
            continue
        differing.append(q)
    print(f"{len(a.keys() | b.keys()) - len(differing)} identical, "
          f"{len(differing)} differing", file=sys.stderr)
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
