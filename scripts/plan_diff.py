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
    dropped.

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


def normalize(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text.splitlines()


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
