#!/usr/bin/env python3
"""Compare two directories of `graft.PlanDump` output after stripping
what changes from run to run but is not a plan change.

Usage: python3 tools/plan_diff.py <parentDir> <changeDir>

For every `*.txt` file in either directory, both sides are normalised
and compared line by line. Each differing (or one-sided) file is
printed with a unified diff of the normalised text. Exit status is 0
when every file matches and 1 otherwise.

Normalised away:
  - expression ids `#123` / `#123L`;
  - the counters `[plan_id=N]`, `RDD[N]`, `Broadcast(N)` and the
    lambda-variable suffixes `x_N`;
  - identity hashes of array literals an expression prints (`[D@1a2b`);
  - call sites `<File>.scala:<line>` (of `localCheckpoint` leaves);
  - warehouse paths `file:/.../spark-warehouse/...` and the UUID or
    temp-directory suffix of per-invocation table names;
  - in stream plans: the lambda class names `$$Lambda$N/0x...@...`,
    temporary checkpoint paths, run ids and the batch timestamp after
    `NoTimeout, `.
"""
import difflib
import os
import re
import sys

UUID = r"[0-9a-f]{8}[-_][0-9a-f]{4}[-_][0-9a-f]{4}[-_][0-9a-f]{4}[-_][0-9a-f]{12}"
RULES = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"Broadcast\(\d+\)"), "Broadcast(N)"),
    (re.compile(r"\[([A-Z])@[0-9a-f]+"), r"[\1@<obj>"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"\b(\w+)\.scala:\d+"), r"\1.scala:N"),
    (re.compile(r"\$+Lambda\$?[\w$]*/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"\$+Lambda[\w$/]*"), "$Lambda"),
    (re.compile(r"file:[^\s,\]\)]*spark-warehouse[^\s,\]\)]*"), "<warehouse>"),
    (re.compile(UUID), "<uuid>"),
    (re.compile(r"(graft_\w+?_)\w*?\d{6,}\w*"), r"\1<tmp>"),
    (re.compile(r"(/tmp|/var/folders)[^\s,\]\)]*"), "<tmpdir>"),
    (re.compile(r"runId=[^\s,\]\)]*"), "runId=<id>"),
    (re.compile(r"(NoTimeout, )\d+"), r"\1<ts>"),
]


def normalise(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def files(d):
    return {f for f in os.listdir(d) if f.endswith(".txt")}


def main(parent, change):
    names = sorted(files(parent) | files(change))
    differing = 0
    for name in names:
        a, b = os.path.join(parent, name), os.path.join(change, name)
        if not (os.path.exists(a) and os.path.exists(b)):
            print(f"== {name}: only in {parent if os.path.exists(a) else change}")
            differing += 1
            continue
        na = normalise(open(a, encoding="utf-8").read())
        nb = normalise(open(b, encoding="utf-8").read())
        if na != nb:
            differing += 1
            print(f"== {name}: differs")
            sys.stdout.writelines(difflib.unified_diff(na, nb, a, b, n=2))
    print(f"{len(names) - differing} same, {differing} differ")
    return 1 if differing else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
