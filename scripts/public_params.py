#!/usr/bin/env python3
"""Count the settable values of Scala sources.

For each file, prints the number of public member `def`s and the number
of their parameters that have a default value: each such parameter is
one value a caller may set or leave, so the count tracks the options an
API offers.

A member def is one declared directly in an object, class or trait
body, not inside another def. It is public unless declared `private` or
`protected` (qualified forms such as `private[graph]` included). A
parameter has a default when it holds a top-level `=` (not `=>`, `==`,
`<=`, `>=` or `!=`). String and character literals and comments are
blanked before parsing, so braces and parentheses inside them do not
count.

Usage: python3 scripts/public_params.py FILE.scala [...]
Prints per file: public defs, defaulted params; then a final line with
the totals over all files.
"""
import re
import sys

# The last of these keywords before a `{` tells a template body
# (object/class/trait) from a def body or an anonymous class (`new`).
OPENER = re.compile(r"\b(object|class|trait|def|new)\b")
DEF = re.compile(r"\bdef\s+([^\s(\[:=]+)")
HIDDEN = re.compile(r"\b(private|protected)\b")


def blank(text):
    """Replace comments and string/char literals with spaces, keeping
    newlines so offsets and line structure survive."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
        elif text[i] == "'" and re.match(r"'(\\.|[^\\'])'", text[i:i + 4]):
            j = i + re.match(r"'(\\.|[^\\'])'", text[i:i + 4]).end()
        else:
            out.append(text[i])
            i += 1
            continue
        out.append(re.sub(r"[^\n]", " ", text[i:j]))
        i = j
    return "".join(out)


def params(text, start):
    """Parameter clauses of the def whose name ends at `start`: returns
    the list of top-level parameters across all `(...)` clauses."""
    i, n, found = start, len(text), []
    while i < n:
        while i < n and text[i].isspace():
            i += 1
        if i < n and text[i] == "[":  # type parameters
            depth = 0
            while i < n:
                depth += {"[": 1, "]": -1}.get(text[i], 0)
                i += 1
                if depth == 0:
                    break
            continue
        if i >= n or text[i] != "(":
            return found
        depth, cur, i = 0, [], i
        while i < n:
            c = text[i]
            if c in "([{":
                depth += 1
                if depth == 1:
                    i += 1
                    continue
            elif c in ")]}":
                depth -= 1
                if depth == 0:
                    i += 1
                    break
            if depth == 1 and c == ",":
                found.append("".join(cur))
                cur = []
            else:
                cur.append(c)
            i += 1
        if "".join(cur).strip():
            found.append("".join(cur))


def has_default(param):
    depth = 0
    for k, c in enumerate(param):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            nxt = param[k + 1:k + 2]
            prev = param[k - 1:k] if k else ""
            if nxt not in (">", "=") and prev not in ("<", ">", "!", "="):
                return True
    return False


def count(path):
    with open(path, encoding="utf-8") as f:
        text = blank(f.read())
    # Stack of open braces: True for a template (object/class/trait)
    # body, False for any other block.
    stack, defs, defaulted = [], 0, 0
    line_start = 0
    for i, c in enumerate(text):
        if c == "\n":
            line_start = i + 1
        elif c == "{":
            head = text[max(text.rfind("{", 0, i), text.rfind("}", 0, i)) + 1:i]
            kinds = OPENER.findall(head)
            stack.append(bool(kinds) and kinds[-1] in ("object", "class", "trait"))
        elif c == "}":
            if stack:
                stack.pop()
        elif c == "d" and text.startswith("def", i):
            m = DEF.match(text, i)
            if not m or (i and (text[i - 1].isalnum() or text[i - 1] == "_")):
                continue
            member = not stack or stack[-1]
            modifiers = text[line_start:i]
            if member and not HIDDEN.search(modifiers):
                defs += 1
                defaulted += sum(map(has_default, params(text, m.end())))
    return defs, defaulted


if __name__ == "__main__":
    rows = [(path, *count(path)) for path in sys.argv[1:]]
    for path, d, p in rows:
        print(f"{path}: public_defs={d} defaulted_params={p}")
    print(f"total: public_defs={sum(r[1] for r in rows)} "
          f"defaulted_params={sum(r[2] for r in rows)}")
