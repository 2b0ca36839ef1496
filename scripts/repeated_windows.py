#!/usr/bin/env python3
"""Count copied code in Scala sources.

A code line is a line whose stripped form is non-empty and does not
start with //, /* or *. A line counts as copied when it lies inside a
window of 5 consecutive code lines that already occurred, in the same
order, earlier in the same file.

Usage: python3 scripts/repeated_windows.py FILE.scala [...]
Prints per file: code lines, copied lines.
"""
import sys

WINDOW = 5


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        stripped = (line.strip() for line in f)
        return [s for s in stripped
                if s and not s.startswith(("//", "/*", "*"))]


def copied(lines):
    seen, marked = set(), set()
    for i in range(len(lines) - WINDOW + 1):
        window = tuple(lines[i:i + WINDOW])
        if window in seen:
            marked.update(range(i, i + WINDOW))
        seen.add(window)
    return len(marked)


if __name__ == "__main__":
    for path in sys.argv[1:]:
        lines = code_lines(path)
        print(f"{path}: code_lines={len(lines)} copied_lines={copied(lines)}")
