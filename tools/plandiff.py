#!/usr/bin/env python3
"""Diff two ExplainDump directories query by query.

Usage: tools/plandiff.py [-v] <dirA> <dirB>

Each directory holds `<query>_<suffix>.txt` files written by
`tools/run.sh graft.tools.ExplainDump <sfDir> <dir> <suffix>`; the suffix
may differ between the two directories. Before comparing, the run-specific
parts of a plan are normalized away: expression ids (`#123`), `plan_id=N`,
object hashes (`@1a2b3c`), RDD ids, lambda class names and the source
line of an RDD's call site (`at AnalyticsQueries.scala:159`). Prints one line
per query, `identical` or `differs` (with `-v`, a unified diff of the
normalized plans follows each `differs`), and a summary line. Queries
present on one side only are reported as `missing in A|B`.

q85_profile is reported apart as known-nondeterministic: the Expand that
Spark's distinct-aggregate rewrite builds for its four count_distincts
orders its columns differently from run to run of the same commit.

Exit status: 0 when every compared query (q85_profile aside) is identical
and none is missing, 1 otherwise.
"""
import difflib
import os
import re
import signal
import sys

NONDETERMINISTIC = {"q85_profile"}

_RULES = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@"),
    (re.compile(r"\$\$?Lambda[$/][\w$./]*"), "$Lambda"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\.scala:\d+"), ".scala:"),
]


def normalize(text):
    for rx, rep in _RULES:
        text = rx.sub(rep, text)
    return text


def load(d):
    """{query: normalized plan} for one dump directory; the file suffix
    is the `_<token>` every file name in the directory ends with."""
    names = sorted(f[:-4] for f in os.listdir(d) if f.endswith(".txt"))
    if not names:
        sys.exit(f"plandiff: no .txt plans in {d}")
    tails = {n.rsplit("_", 1)[-1] for n in names}
    strip = len(tails) == 1 and all("_" in n for n in names)
    plans = {}
    for n in names:
        q = n.rsplit("_", 1)[0] if strip else n
        with open(os.path.join(d, n + ".txt")) as f:
            plans[q] = normalize(f.read())
    return plans


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    if len(args) != 2:
        sys.exit(__doc__)
    a, b = load(args[0]), load(args[1])
    counts = {}
    bad = False
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            verdict = "missing in " + ("A" if q not in a else "B")
            bad = True
        elif a[q] == b[q]:
            verdict = "identical"
        elif q in NONDETERMINISTIC:
            verdict = "differs (known nondeterministic)"
        else:
            verdict = "differs"
            bad = True
        counts[verdict] = counts.get(verdict, 0) + 1
        print(f"{q}: {verdict}")
        if verbose and verdict == "differs":
            sys.stdout.writelines(difflib.unified_diff(
                a[q].splitlines(True), b[q].splitlines(True),
                f"A/{q}", f"B/{q}", n=1))
    print("== " + ", ".join(f"{n} {v}" for v, n in sorted(counts.items())))
    return 1 if bad else 0


if __name__ == "__main__":
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    sys.exit(main(sys.argv[1:]))
