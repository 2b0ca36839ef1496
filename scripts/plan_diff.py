#!/usr/bin/env python3
"""Compare two graft.tools.ExplainDump output dirs plan by plan.

Each dir holds one <query>.txt per registry query (the formatted
physical plan). Before comparing, every plan is normalized so that two
runs of the same plan compare equal:
  - expression ids (`#123`, `#123L`), plan ids (`plan_id=7`,
    `id=#7`) and RDD ids (`MapPartitionsRDD[4002]`, a session-wide
    counter that moves whenever an earlier query or round runs a
    different number of stages) lose their numbers;
  - formatted-plan node ids (`(12)`) and codegen stage ids (`*(3)`,
    `[codegen id : 3]`) lose their numbers;
  - lambda class names, object hashes and `.scala:N` line numbers are
    dropped;
  - a path up to and including `/target/` (a checkout's build tree,
    where the registry's scratch fixtures live) or `/spark-warehouse/`
    (the session's warehouse, relative to the working directory)
    becomes `<checkout>/target/` or `<checkout>/spark-warehouse/`;
  - the random suffix of a temporary directory (`/tmp/graft-zonemap123`)
    and the write id in a part file name (`part-00000-<uuid>`) are
    dropped;
  - an `Expand` node (a distinct aggregate's rewrite) is put in one
    canonical form. Spark orders its output columns and projection
    lists by expression hash, which carries the expression ids, so the
    same query can print them in another order, with other `gid`
    numbers, whenever earlier queries in the JVM allocated a different
    number of ids. The output columns are sorted by name (`gid` last),
    every projection list follows them, the projection lists are
    sorted, and the `gid` numbers are reassigned in that order; lines
    below the `Expand` get the same column order and `gid = N`
    numbers. A real change to a projection list still shows.

Usage: python3 scripts/plan_diff.py BEFORE_DIR AFTER_DIR [-v]
Prints the queries whose plans differ (and those present on one side
only); -v adds a unified diff per differing query. Exit status 1 when
any plan differs, else 0.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"file:/\S*?/(target|spark-warehouse)/"), r"<checkout>/\1/"),
    (re.compile(r"(?<![\w:])/\S*?/(target|spark-warehouse)/"), r"<checkout>/\1/"),
    (re.compile(r"(/tmp/[A-Za-z_-]+?)\d+/"), r"\1/"),
    (re.compile(r"part-(\d+)-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"), r"part-\1"),
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\*\(\d+\)"), "*()"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id]"),
    (re.compile(r"\(\d+\)"), "()"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+"), "Lambda"),
    (re.compile(r"@[0-9a-f]+\b"), "@"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
]


def split_top(text):
    """Split a comma-separated list at bracket depth 0."""
    parts, depth, cur = [], 0, []
    for ch in text:
        depth += ch in "(["
        depth -= ch in ")]"
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def unbracket(text):
    return split_top(text[1:-1]) if text.startswith("[") and text.endswith("]") else None


GID = re.compile(r"\(gid# = (\d+)\)")


def canonical_expand(args):
    """The canonical `Arguments:` text of one Expand node, the old and
    new output column lists, and the old -> new gid map; None when the
    node does not have the distinct-aggregate shape."""
    top = split_top(args)
    if len(top) != 2:
        return None
    projections, output = unbracket(top[0]), unbracket(top[1])
    if not projections or not output or "gid#" not in output:
        return None
    rows = [unbracket(p) for p in projections]
    if any(r is None or len(r) != len(output) for r in rows):
        return None
    # the distinct-group columns precede gid; the columns after it
    # (the plain aggregates' inputs) keep their order
    g = output.index("gid#")
    order = sorted(range(g), key=lambda i: output[i]) + list(range(g + 1, len(output)))
    keyed = sorted(([r[i] for i in order], r[g]) for r in rows)
    gids = sorted((r[g] for r in rows), key=int)
    gid_map = {old: new for (_, old), new in zip(keyed, gids)}

    def place(cells, gid):
        return cells[:g] + [gid] + cells[g:]

    new_output = place([output[i] for i in order], "gid#")
    text = "[" + ", ".join("[" + ", ".join(place(cells, gid)) + "]"
                           for (cells, _), gid in zip(keyed, gids))
    text += "], [" + ", ".join(new_output) + "]"
    return text, output[:g + 1], new_output[:g + 1], gid_map


def canonical_expands(lines):
    out, current = [], None
    for i, line in enumerate(lines):
        if i > 1 and lines[i - 2].endswith(") Expand") and line.startswith("Arguments: "):
            found = canonical_expand(line[len("Arguments: "):])
            if found:
                text, old, new, gid_map = found
                current = (old, new, gid_map)
                out.append("Arguments: " + text)
                continue
        if current:
            old, new, gid_map = current
            # the group columns through gid, as a list and as sort keys
            for suffix in ("", " ASC NULLS FIRST"):
                line = line.replace(", ".join(c + suffix for c in old),
                                    ", ".join(c + suffix for c in new))
            line = GID.sub(lambda m: f"(gid# = {gid_map.get(m.group(1), m.group(1))})", line)
        out.append(line)
    return out


def normalize(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return canonical_expands(text.splitlines())


def plans(d):
    return {f[:-len(".txt")]: os.path.join(d, f)
            for f in os.listdir(d) if f.endswith(".txt")}


def main(argv):
    verbose = "-v" in argv
    dirs = [a for a in argv if a != "-v"]
    if len(dirs) != 2:
        sys.exit(__doc__)
    before, after = plans(dirs[0]), plans(dirs[1])
    same = differ = 0
    for name in sorted(before.keys() | after.keys()):
        if name not in after or name not in before:
            side = dirs[0] if name in before else dirs[1]
            print(f"{name}: only in {side}")
            differ += 1
            continue
        with open(before[name]) as a, open(after[name]) as b:
            old, new = normalize(a.read()), normalize(b.read())
        if old == new:
            same += 1
        else:
            print(f"{name}: plan differs")
            differ += 1
            if verbose:
                sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
                    old, new, f"before/{name}", f"after/{name}", lineterm=""))
    print(f"{same} same, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
