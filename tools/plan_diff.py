#!/usr/bin/env python3
"""Compare two `graft.tools.ExplainDump` output directories.

    python3 tools/plan_diff.py A_DIR B_DIR [--diff]

ExplainDump writes one `<query>_<suffix>.txt` formatted plan per query;
files pair up by query name (the part before the last `_`), so the two
sides may use different suffixes. Before comparing, each plan is masked
of what changes from run to run or with unrelated edits: expression ids
(`#123`), plan ids, RDD ids, lambda class names and lambda variable
numbers (`x_66`), object hashes (`@1a2b3c`) and `at File.scala:NN`
call-site labels.

A multi-distinct aggregate plans an `Expand` whose projection order
follows expression-id hashes, so it depends on what the JVM planned
before. In a plan with such an `Expand` (one with a `gid` column), each
`gid = k` is renamed after projection k's non-null columns, and every
`[...]` list and `hashpartitioning(...)` argument list is compared as a
sorted list.

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
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_N"),
    (re.compile(r"@[0-9a-f]+\b"), "@H"),
    (re.compile(r" at [\w$]+\.scala:\d+"), " at <call site>"),
]


EXPAND_ARGS = re.compile(r"^\(\d+\) Expand\n(?:.*\n)*?Arguments: (.*)$", re.M)
GID_EQ = re.compile(r"(gid#N = )(\d+)\b")
OPEN = {"[": "]", "(": ")", "{": "}"}


def split_top(s):
    """Splits `s` at its top-level `, ` separators."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in OPEN:
            depth += 1
        elif ch in OPEN.values():
            depth -= 1
        elif ch == "," and depth == 0 and s.startswith(", ", i):
            items.append(s[start:i])
            start = i + 2
    items.append(s[start:])
    return items


def sort_lists(s):
    """`s` with the items of every `[...]` list and `hashpartitioning(...)`
    argument list sorted, nested lists first."""
    out, i = [], 0
    while i < len(s):
        if s[i] != "[" and not (s[i] == "(" and s[:i].endswith("hashpartitioning")):
            out.append(s[i])
            i += 1
            continue
        depth, j = 0, i
        while True:
            if s[j] in OPEN:
                depth += 1
            elif s[j] in OPEN.values():
                depth -= 1
                if depth == 0:
                    break
            j += 1
        items = sorted(sort_lists(x) for x in split_top(s[i + 1:j]))
        out.append(s[i] + ", ".join(items) + s[j])
        i = j + 1
    return "".join(out)


def canonical_expand(text):
    """`text` made independent of its multi-distinct `Expand`'s
    projection order (see the module docstring)."""
    m = EXPAND_ARGS.search(text)
    if m is None or "gid#N" not in m.group(1):
        return text
    projections, output = (split_top(a[1:-1]) for a in split_top(m.group(1)))
    gid = next(i for i, col in enumerate(output) if col.startswith("gid#N"))
    labels, relabeled = {}, []
    for p in projections:
        cols = split_top(p[1:-1])
        labels[cols[gid]] = "{" + ", ".join(
            sorted(c for i, c in enumerate(cols) if i != gid and c != "null")) + "}"
        cols[gid] = labels[cols[gid]]
        relabeled.append("[" + ", ".join(cols) + "]")
    text = (text[:m.start(1)] + "[" + ", ".join(relabeled) + "], ["
            + ", ".join(output) + "]" + text[m.end(1):])
    text = GID_EQ.sub(lambda g: g.group(1) + labels.get(g.group(2), g.group(2)), text)
    return "\n".join(sort_lists(line) for line in text.split("\n"))


def mask(text):
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return canonical_expand(text)


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
