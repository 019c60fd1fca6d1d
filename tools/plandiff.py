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
  become `$$Lambda`.

Plans with several DISTINCT aggregates are the exception: Spark's
distinct-aggregate rewrite orders its grouping keys by expression hash,
and so by expression id, which depends on what the JVM planned before.
When such a gate differs in a full dump, dump it alone on both sides
(`graft.Explain` takes a comma-separated gate list) and compare those.

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


def normalized(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    return text


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
