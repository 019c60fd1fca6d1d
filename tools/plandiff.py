#!/usr/bin/env python3
"""Compare two plan dumps of `graft.Explain` and print each gate whose
plan differs.

`runMain graft.Explain <sfDir> <outDir> <suffix>` writes one file
`<gate>_<suffix>.txt` per gate. This script pairs the files of DIR_A and
DIR_B by gate name (the suffix after the last `_` is dropped) and
compares them after normalizing what differs between two runs of the
same plan:

- expression ids (`name#123`, `#123L`) become `#_`;
- RDD ids (`RDD[123]`) become `RDD[_]`, and the call site that made the
  RDD (`at localCheckpoint at Models.scala:1895`) becomes `_.scala:_`,
  so a checkpoint taken by a moved or shared helper still compares equal;
- exchange ids (`plan_id=123`) become `plan_id=_`;
- the random suffix of an artifact directory (`/tmp/graft_als_pub_529…/`)
  becomes `_`;
- JVM lambda class names and identity hashes (`$$Lambda$61/0x7f…@56a9`)
  become `$$Lambda`;
- the numbered names that come from JVM-wide counters, lambda variables
  of higher-order functions (`lambda x_153`) and common subexpressions
  (`_common_expr_13`), are numbered again from 0 in order of first
  appearance in the plan;
- the distinct-aggregate rewrite is put in one canonical order. For a
  query with several DISTINCT aggregates, Spark's rewrite numbers the
  distinct groups (`gid`) and orders their key columns by expression
  hash, and so by expression id, which depends on what the JVM planned
  before. Each `Expand` that outputs `gid` has its key columns sorted by
  name and its groups renumbered in that order; the key lists next to
  `gid` (aggregate keys, inputs, results, the exchange's partitioning)
  and the `FILTER (WHERE (gid = k))` clauses of the operators above it
  follow. So a full dump and a dump of a few gates compare equal.

Usage:
    python3 tools/plandiff.py DIR_A DIR_B [-v]

One line is printed per differing gate, plus one per gate present on
only one side; `-v` adds a unified diff of the normalized plans. The
last line counts the compared, differing and unpaired gates. The exit
status is 1 when any gate differs or is unpaired, else 0.
"""
import difflib
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"\w+\.scala:\d+"), "_.scala:_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"(graft_\w+?)_\d{6,}"), r"\1_"),
    (re.compile(r"\$\$Lambda\$[\w/]+@[0-9a-f]+"), "$$Lambda"),
]
COUNTED = [re.compile(r"\b(lambda \w+?_)(\d+)\b"),
           re.compile(r"\b(_common_expr_)(\d+)\b")]
EXPAND = re.compile(r"^\(\d+\) Expand$")
GID = "gid#_"
GID_FILTER = re.compile(r"\(gid#_ = (\d+)\)")


def split_top(text):
    """`text` split at the commas outside brackets and quotes."""
    items, depth, quote, start = [], 0, None, 0
    for i, c in enumerate(text):
        if quote:
            quote = None if c == quote else quote
        elif c in "'`":
            quote = c
        elif c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            items.append(text[start:i].strip())
            start = i + 1
    items.append(text[start:].strip())
    return items


def unbracket(item):
    """The items of a `[a, b, ...]` list, or None when `item` is not one."""
    if item[:1] == "[" and item[-1:] == "]":
        return split_top(item[1:-1])
    return None


def canonical_expand(args):
    """The rewrite of one distinct-aggregate `Expand`'s argument text in
    canonical order: (new argument text, old key list, new key list,
    old gid -> new gid), or None when `args` is not such an Expand.
    """
    top = split_top(args)
    rows = unbracket(top[0]) if len(top) == 2 else None
    out = unbracket(top[1]) if rows else None
    if not out or GID not in out:
        return None
    rows = [unbracket(r) for r in rows]
    g = out.index(GID)
    if any(r is None or len(r) != len(out) or not r[g].isdigit()
           for r in rows):
        return None
    keys = [j for j in range(g) if any(r[j] == "null" for r in rows)]
    order = sorted(keys, key=lambda j: out[j])
    perm = list(range(len(out)))
    for j, k in zip(keys, order):
        perm[j] = k
    rows = [[r[k] for k in perm] for r in rows]
    regular = [r for r in rows if r[g] == "0"]
    groups = sorted((r for r in rows if r[g] != "0"),
                    key=lambda r: [r[j] == "null" for j in keys])
    renumber = {}
    for n, r in enumerate(groups, 1):
        renumber[r[g]] = str(n)
        r[g] = str(n)
    text = "[" + ", ".join("[" + ", ".join(r) + "]"
                           for r in regular + groups) + "], ["
    text += ", ".join(out[k] for k in perm) + "]"
    old_keys = ", ".join(out[j] for j in keys)
    new_keys = ", ".join(out[j] for j in order)
    return text, old_keys, new_keys, renumber


def canonical_distinct_rewrite(text):
    """`text` with every distinct-aggregate `Expand` in canonical order
    (see the module docstring); the operators after an Expand, up to the
    next Expand, follow its key order and group numbers.
    """
    lines = text.split("\n")
    rewrite = expand_args = None
    for i, line in enumerate(lines):
        if EXPAND.match(line):
            rewrite = None
            expand_args = next(
                (j for j in range(i + 1, min(i + 4, len(lines)))
                 if lines[j].startswith("Arguments: ")), None)
            if expand_args is not None:
                rewrite = canonical_expand(
                    lines[expand_args][len("Arguments: "):])
                if rewrite:
                    lines[expand_args] = "Arguments: " + rewrite[0]
            continue
        if rewrite is None or i == expand_args:
            continue
        _, old_keys, new_keys, renumber = rewrite
        if GID in line:
            line = line.replace(old_keys, new_keys)
        lines[i] = GID_FILTER.sub(lambda m: "(gid#_ = {})".format(
            renumber.get(m.group(1), m.group(1))), line)
    return "\n".join(lines)


def normalized(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    for pattern in COUNTED:
        first = {}
        text = pattern.sub(lambda m: m.group(1) + str(
            first.setdefault(m.group(2), len(first))), text)
    return canonical_distinct_rewrite(text)


def plans(root):
    """Map each gate name to its plan file under `root`."""
    out = {}
    for name in sorted(os.listdir(root)):
        if name.endswith(".txt") and "_" in name:
            out[name[:-len(".txt")].rsplit("_", 1)[0]] = os.path.join(root, name)
    return out


def main(argv):
    args = [a for a in argv[1:] if a != "-v"]
    verbose = "-v" in argv[1:]
    if len(args) != 2:
        sys.exit(__doc__)
    a, b = plans(args[0]), plans(args[1])
    differing = unpaired = 0
    for gate in sorted(set(a) | set(b)):
        if gate not in a or gate not in b:
            unpaired += 1
            print(f"{gate}: only in {args[0] if gate in a else args[1]}")
            continue
        pa, pb = normalized(a[gate]), normalized(b[gate])
        if pa != pb:
            differing += 1
            print(f"{gate}: plan differs")
            if verbose:
                sys.stdout.writelines(difflib.unified_diff(
                    pa.splitlines(True), pb.splitlines(True),
                    a[gate], b[gate]))
    compared = len(set(a) & set(b))
    print(f"{compared} compared, {differing} differ, {unpaired} unpaired")
    return 1 if differing or unpaired else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
