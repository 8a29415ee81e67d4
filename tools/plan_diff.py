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
  - identity hashes of array literals an expression prints (`[D@1a2b`)
    and of aggregator objects (`graft.functions.BottomK@1a2b`);
  - Spark ML stage uids (`vecAssembler_1a2b3c4d5e6f`, random per build);
  - call sites `<File>.scala:<line>` (of `localCheckpoint` leaves),
    file and line;
  - warehouse paths `file:/.../spark-warehouse/...` and the UUID or
    temp-directory suffix of per-invocation table names;
  - in AQE-final plans, what depends on which query stage finished
    first: codegen stage ids and query stage ids (both renumbered in
    order of appearance) and the runtime `sizeInBytes` of a stage;
  - the order of the distinct groups an `Expand` replicates rows for
    (Spark's `RewriteDistinctAggregates` derives it from expression
    ids): each `Expand`'s projections are sorted, its group columns are
    listed by name here and in every later list that carries them
    before `gid`, and each `gid = N` names its group's column;
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
    (re.compile(r"\b\w+\.scala:\d+"), "<File>.scala:N"),
    (re.compile(r"\$+Lambda\$?[\w$]*/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"\$+Lambda[\w$/]*"), "$Lambda"),
    (re.compile(r"file:[^\s,\]\)]*spark-warehouse[^\s,\]\)]*"), "<warehouse>"),
    (re.compile(UUID), "<uuid>"),
    (re.compile(r"(graft_\w+?)_graft_[a-z]+\d{6,}\b"), r"\1_<uuid>"),
    (re.compile(r"(graft_\w+?_)\w*?\d{6,}\w*"), r"\1<tmp>"),
    (re.compile(r"(/tmp|/var/folders)[^\s,\]\)]*"), "<tmpdir>"),
    (re.compile(r"runId=[^\s,\]\)]*"), "runId=<id>"),
    (re.compile(r"(NoTimeout, )\d+"), r"\1<ts>"),
    (re.compile(r"(Statistics\(sizeInBytes=)[^,)]*"), r"\1<size>"),
    (re.compile(r"\b([A-Za-z_][\w.$]*)@[0-9a-f]{4,}\b"), r"\1@<obj>"),
    (re.compile(r"\b([A-Za-z]\w*?)_[0-9a-f]{12}\b"), r"\1_<uid>"),
]


EXPAND_ARGS = re.compile(r"^Arguments: \[(\[.*\])\], \[([^\[\]]*)\]$")


def expand_groups(lines):
    """Canonical distinct-group order, see the module doc."""
    out, groups, gids, in_expand = [], None, {}, False
    for line in lines:
        m = EXPAND_ARGS.match(line.rstrip("\n")) if in_expand else None
        if line.startswith("("):
            in_expand = " Expand" in line.split(")", 1)[1][:8]
        if m:
            projs = [p.split(", ") for p in m.group(1)[1:-1].split("], [")]
            outs = m.group(2).split(", ")
            if "gid#" in outs and all(len(p) == len(outs) for p in projs):
                g = outs.index("gid#")
                groups = outs[:g]
                perm = sorted(range(g), key=lambda j: groups[j]) + list(
                    range(g, len(outs)))
                gids = {}
                for p in projs:
                    named = [groups[j] for j in range(g) if p[j] != "null"]
                    gids[p[g]] = named[0] if len(named) == 1 else "-"
                    p[g] = gids[p[g]]
                canon = sorted("[" + ", ".join(p[j] for j in perm) + "]"
                               for p in projs)
                line = "Arguments: [%s], [%s]\n" % (
                    ", ".join(canon), ", ".join(outs[j] for j in perm))
        elif groups:
            for suffix in ("", " ASC NULLS FIRST"):
                run = lambda cs: ", ".join(c + suffix for c in cs + ["gid#"])
                line = line.replace(run(groups), run(sorted(groups)))
            line = re.sub(r"gid# = (\d+)",
                          lambda x: "gid# = " + gids.get(x.group(1), x.group(1)),
                          line)
        out.append(line)
    return out


def renumber(lines):
    """Codegen and query stage ids in order of first appearance."""
    ids = {"codegen": {}, "stage": {}}

    def canon(kind, n):
        return str(ids[kind].setdefault(n, len(ids[kind]) + 1))

    out, in_stage = [], False
    for line in lines:
        line = re.sub(r"(\[codegen id : )(\d+)\]",
                      lambda m: m.group(1) + canon("codegen", m.group(2)) + "]",
                      line)
        if in_stage and line.startswith("Arguments: "):
            line = "Arguments: " + canon("stage", line[11:].strip()) + "\n"
        if line.startswith("("):
            in_stage = line.rstrip().endswith("QueryStage")
        out.append(line)
    return out


def normalise(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return renumber(expand_groups(text.splitlines(keepends=True)))


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
