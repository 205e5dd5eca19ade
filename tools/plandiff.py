#!/usr/bin/env python3
"""Compare two PlanCheck dumps modulo run-specific ids.

    tools/plandiff.py <before.txt> <after.txt>

Each file is the stdout of `tools/run_main.sh PlanCheck <sfDir> <gate...>`
(formatted physical plans, one `==== <gate> ====` section per gate).
Run-specific tokens are normalized before the compare:
- expression ids (`#123`) and `plan_id=N`, which differ between any two
  sessions;
- whole-stage codegen ids and adaptive query-stage ids, which follow the
  order in which AQE happened to materialize stages;
- higher-order-function lambda variables (`lambda x_12`), whose suffix is
  a JVM-wide counter, so it depends on what ran before the gate;
- temporary directories (`/tmp/graft_tf_stage8914…`), whose name ends in
  a random number (`Files.createTempDirectory`).
Prints a unified diff and exits 1 when the normalized dumps differ, 0 when
they are identical.
"""
import difflib
import re
import sys

_NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"\blambda ([A-Za-z]+)_\d+"), r"lambda \1_N"),
    (re.compile(r"(/graft_\w*?[A-Za-z_])\d+(?=[/\],\s]|$)"), r"\1N"),
]
# a query stage's node detail ends in `Arguments: <stage id>`
_STAGE = re.compile(r"^\(\d+\) \w*QueryStage\b")
_STAGE_ID = re.compile(r"^Arguments: \d+$")


def normalize(text):
    lines = []
    in_stage = False
    for line in text.splitlines():
        for pat, repl in _NORMALIZE:
            line = pat.sub(repl, line)
        if _STAGE.match(line):
            in_stage = True
        elif in_stage and _STAGE_ID.match(line):
            line = "Arguments: N"
        elif not line.strip():
            in_stage = False
        lines.append(line.rstrip())
    return lines


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    before, after = argv[1], argv[2]
    with open(before) as f:
        a = normalize(f.read())
    with open(after) as f:
        b = normalize(f.read())
    diff = list(difflib.unified_diff(a, b, before, after, lineterm=""))
    for line in diff:
        print(line)
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
