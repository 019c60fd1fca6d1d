#!/usr/bin/env python3
"""Count copied code: lines that repeat an earlier 8-line window.

Every source file is read as trimmed lines (leading and trailing
whitespace stripped). A window is 8 consecutive lines of one file; it
counts only when at least 7 of its lines are longer than 8 characters,
so runs of braces, blank lines and short keywords never match. Within
one directory, files are visited in sorted path order, and a window
that already occurred earlier (in an earlier file, or earlier in the
same file) marks its 8 lines as repeated. The figure for a directory
is the number of marked lines; the per-file figures add up to it.

Usage:
    python3 tools/dupwindows.py [ROOT]

ROOT defaults to src/main/scala/graft. One line is printed per
directory that holds .scala files directly (gates/, ops/, functions/,
...), then one indented line per file with at least one marked line,
largest first.
"""
import os
import sys

WINDOW = 8
MIN_LONG = 7
LONG = 8


def repeated_lines(paths):
    """Map each path to its number of lines inside a repeated window."""
    seen = set()
    counts = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            lines = [line.strip() for line in f]
        marked = set()
        for i in range(len(lines) - WINDOW + 1):
            win = tuple(lines[i:i + WINDOW])
            if sum(len(s) > LONG for s in win) < MIN_LONG:
                continue
            if win in seen:
                marked.update(range(i, i + WINDOW))
            else:
                seen.add(win)
        counts[path] = len(marked)
    return counts


def main(argv):
    root = argv[1] if len(argv) > 1 else "src/main/scala/graft"
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        dirnames.sort()
        files = sorted(os.path.join(dirpath, n)
                       for n in filenames if n.endswith(".scala"))
        if not files:
            continue
        counts = repeated_lines(files)
        rel = os.path.relpath(dirpath, root)
        name = "./" if rel == "." else rel + "/"
        print(f"{name} {sum(counts.values())}")
        for path, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
            if n:
                print(f"  {os.path.basename(path)[:-len('.scala')]} {n}")


if __name__ == "__main__":
    main(sys.argv)
