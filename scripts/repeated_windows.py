#!/usr/bin/env python3
"""Count copied code in Scala sources.

A code line is a line whose stripped form is non-empty and does not
start with //, /* or *. A window is 5 consecutive code lines of one
file. Two rules say when a line counts as copied:

  - within files (the default): the line lies inside a window that
    already occurred, in the same order, earlier in the same file;
  - across files (--across): the files are taken in sorted path order,
    and the line lies inside a window whose first occurrence is in an
    earlier file. A window repeated only inside one file does not count
    under this rule, however often it repeats.

Usage: python3 scripts/repeated_windows.py [--across] FILE.scala [...]
Prints per file: code lines, copied lines; with --across also a final
line with the totals over all files.
"""
import sys

WINDOW = 5


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        stripped = (line.strip() for line in f)
        return [s for s in stripped
                if s and not s.startswith(("//", "/*", "*"))]


def windows(lines):
    return [tuple(lines[i:i + WINDOW])
            for i in range(len(lines) - WINDOW + 1)]


def copied(lines):
    seen, marked = set(), set()
    for i, window in enumerate(windows(lines)):
        if window in seen:
            marked.update(range(i, i + WINDOW))
        seen.add(window)
    return len(marked)


def copied_across(paths):
    """Per path in sorted order: (code lines, lines copied from an
    earlier file)."""
    first = {}
    out = []
    for path in sorted(paths):
        lines = code_lines(path)
        marked = set()
        for i, window in enumerate(windows(lines)):
            owner = first.setdefault(window, path)
            if owner != path:
                marked.update(range(i, i + WINDOW))
        out.append((path, len(lines), len(marked)))
    return out


if __name__ == "__main__":
    args = sys.argv[1:]
    if "--across" in args:
        rows = copied_across([a for a in args if a != "--across"])
        for path, n, c in rows:
            print(f"{path}: code_lines={n} copied_lines={c}")
        print(f"total: code_lines={sum(r[1] for r in rows)} "
              f"copied_lines={sum(r[2] for r in rows)}")
    else:
        for path in args:
            lines = code_lines(path)
            print(f"{path}: code_lines={len(lines)} copied_lines={copied(lines)}")
