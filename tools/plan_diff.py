#!/usr/bin/env python3
"""Diff the pre-AQE plans of two `graft.tools.Inspect plan` dumps.

    python3 tools/plan_diff.py before.txt after.txt [query ...]

A dump is the stdout of `Inspect plan`, with or without sbt's `[info] `
prefix (lines sbt tags otherwise, such as Spark's stderr logs, are
dropped). For every query whose pre-AQE plans differ, prints the query
name and a unified diff of them; trailing query names restrict the
comparison. Exits 1 when a query differs or is missing from one dump.

What is compared, per plan the dump shows (the eager queries run while
the frame was built, then the returned frame):
  - an adaptive plan: only its `== Initial Plan ==` trees, with the
    formatted view's operator numbers masked. AQE's final plan, the
    numbered operator details and the codegen summary change from run to
    run of one commit;
  - a plan that is not adaptive: the whole plan, without the codegen
    summary.
`Inspect.masked` has already masked the ids that vary between runs. The
`Expand` order of a distinct aggregate still varies (profile_columns,
sv_reciprocal_overlap), so those two can differ between runs of one
commit.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
OPERATOR_NUMBER = re.compile(r" \(\d+\)$")


def dump_lines(path):
    lines = open(path, encoding="utf-8").read().splitlines()
    tagged = [l for l in lines if l.startswith("[info] ")]
    if len(tagged) * 2 > len(lines):
        return [l[len("[info] "):] for l in tagged]
    return lines


def queries(path):
    """query name -> the lines of its section."""
    out, name = {}, None
    for line in dump_lines(path):
        m = HEADER.match(line)
        if m:
            name = m.group(1)
            out[name] = []
        elif name is not None:
            out[name].append(line)
    return out


def plans(section):
    """Splits a query's section into its plans, in order: each starts at
    `== Physical Plan ==` and ends at the codegen summary, which is
    dropped. A line outside a plan (an eager-query marker, a failure) is
    a plan of its own."""
    out, cur = [], None
    for line in section:
        if line == "== Physical Plan ==":
            cur = [line]
            out.append(cur)
        elif line.startswith("-- codegen:"):
            cur = None
        elif cur is not None:
            cur.append(line)
        elif not line.startswith(("   subtree ", "   (NO whole-stage codegen")):
            out.append([line])
    return out


def initial_trees(plan):
    """The `== Initial Plan ==` trees of an adaptive plan."""
    out, i = [], 0
    while i < len(plan):
        line = plan[i]
        if line.lstrip().startswith("+- == Initial Plan =="):
            indent = " " * (len(line) - len(line.lstrip()) + 3)
            out.append(line)
            i += 1
            while i < len(plan) and plan[i].startswith(indent):
                out.append(OPERATOR_NUMBER.sub(" (#)", plan[i]))
                i += 1
        else:
            i += 1
    return out


def pre_aqe(section):
    out = []
    for plan in plans(section):
        if any("AdaptiveSparkPlan" in l for l in plan):
            out += ["== Physical Plan (Initial Plan trees only) =="] + \
                initial_trees(plan)
        else:
            out += plan
    return out


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    before, after = queries(argv[1]), queries(argv[2])
    names = argv[3:] or sorted(set(before) | set(after))
    differ = 0
    for name in names:
        if name not in before or name not in after:
            print(f"== {name}: only in {argv[1] if name in before else argv[2]}")
            differ += 1
            continue
        a, b = pre_aqe(before[name]), pre_aqe(after[name])
        if a != b:
            differ += 1
            print(f"== {name}")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                a, b, argv[1], argv[2], lineterm="", n=2))
    print(f"plan_diff: {differ} of {len(names)} queries differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
