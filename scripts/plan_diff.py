#!/usr/bin/env python3
"""Compare two `graft.Plans` dumps query by query, by operator tree.

    python3 scripts/plan_diff.py A.md B.md [--full]

Each `## <query>` section's `explain("formatted")` block is normalised
before the comparison: expression ids (`#123`, `#123L`) and `plan_id=N`
are dropped, and every column name ending in `_a` or `_b` becomes `?_a`
or `?_b`, so a renamed pair column does not count as a difference. By
default only the operator tree (the indented node list above the
per-node details) is compared; `--full` compares the per-node details
(output columns, conditions, expressions) too.

Prints a unified diff for each query whose tree differs, plus any query
present in only one dump, and exits 1 if there is any; exits 0 when
every query present in both dumps has the same tree.
"""
import argparse
import difflib
import re
import sys


def sections(path):
    """{query: plan block lines} of one dump."""
    out, name, block, inside = {}, None, [], False
    with open(path) as f:
        for line in f.read().splitlines():
            if line.startswith("## "):
                name, block, inside = line[3:].strip(), [], False
            elif line.startswith("```") and name is not None:
                if inside:
                    out[name] = block
                inside = not inside
            elif inside:
                block.append(line)
    return out


def normalise(line):
    line = re.sub(r"#\d+L?", "#", line)
    line = re.sub(r"plan_id=\d+", "plan_id=N", line)
    return re.sub(r"\b\w+_(a|b)\b", r"?_\1", line)


def tree(block, full):
    """The normalised operator tree (everything up to the first blank line
    after the `== Physical Plan ==` header), or the whole block."""
    lines = [normalise(x.rstrip()) for x in block]
    if full:
        return lines
    end = lines.index("") if "" in lines else len(lines)
    return lines[:end]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--full", action="store_true",
                    help="compare the per-node details as well as the tree")
    args = ap.parse_args()
    a, b = sections(args.a), sections(args.b)
    missing = changed = 0
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            print(f"{q}: only in {args.a if q in a else args.b}")
            missing += 1
            continue
        ta, tb = tree(a[q], args.full), tree(b[q], args.full)
        if ta != tb:
            changed += 1
            print(f"{q}: {'plan' if args.full else 'operator tree'} differs")
            sys.stdout.writelines(
                x + "\n" for x in difflib.unified_diff(ta, tb, args.a, args.b, lineterm=""))
    print(f"{len(set(a) & set(b)) - changed} identical, {changed} differ, "
          f"{missing} in one dump only")
    sys.exit(1 if changed or missing else 0)


if __name__ == "__main__":
    main()
