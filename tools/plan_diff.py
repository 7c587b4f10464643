#!/usr/bin/env python3
"""Diff two graft.run.Probe plan-dump directories.

Usage: python3 tools/plan_diff.py <parentDir> <changeDir>

Each directory holds one `<query>.txt` per query, as written by
`graft.run.Probe <out.json> <planDir> ...` (`explain("formatted")`).
Before comparing, every plan is normalized: expression ids (`#123`,
`#123L`), `plan_id=N` tags, temp/checkpoint paths, JVM object identities
(lambda class names, `@hashcode`) and the RDD id and `at <File>.scala:<line>`
call site that ExistingRDD arguments print are replaced by fixed tokens,
so two runs of the same code compare equal, and so do two checkouts
whose only difference is the line a local relation is created on.

Prints one line per query: its Exchange and Sort counts on both sides
and SAME / DIFF (or the side it is missing from). For a DIFF it then
prints a unified diff of the normalized plans. A last line totals the
Exchange and Sort counts of each side and counts the SAME, DIFF and
MISSING queries. Exits 1 on any difference or missing query, 0 when
every plan matches; piped into a reader that closes early (`| head`),
it stops without a traceback.
Dev-only tool — the engine itself has no Python dependency.
"""
import difflib
import os
import re
import signal
import sys

NORMALIZE = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(file:)?/(tmp|private/var|var/folders)/[^\s,\]\)]*"), "<tmp>"),
    (re.compile(r"spark-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "spark-<uuid>"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"@[0-9a-f]{4,8}\b"), "@<obj>"),
    (re.compile(r"\b(\w*RDD)\[\d+\] at \w+ at [\w$]+\.scala:\d+"), r"\1[N] at <call site>"),
]
EXCHANGE = re.compile(r"^\(\d+\) \w*Exchange\b", re.M)
SORT = re.compile(r"^\(\d+\) Sort\b", re.M)


def normalize(text):
    for pattern, token in NORMALIZE:
        text = pattern.sub(token, text)
    return text


def counts(text):
    return len(EXCHANGE.findall(text)), len(SORT.findall(text))


def totals(plans):
    """Exchange and Sort counts summed over every plan of one side."""
    return tuple(map(sum, zip((0, 0), *(counts(t) for t in plans.values()))))


def load(d):
    return {f[:-4]: open(os.path.join(d, f), encoding="utf-8").read()
            for f in sorted(os.listdir(d)) if f.endswith(".txt")}


def main(parent_dir, change_dir):
    parent, change = load(parent_dir), load(change_dir)
    tally = {"SAME": 0, "DIFF": 0, "MISSING": 0}
    for q in sorted(set(parent) | set(change)):
        if q not in change or q not in parent:
            print(f"{q:32s} MISSING in {'change' if q not in change else 'parent'}")
            tally["MISSING"] += 1
            continue
        p, c = normalize(parent[q]), normalize(change[q])
        (pe, ps), (ce, cs) = counts(p), counts(c)
        verdict = "SAME" if p == c else "DIFF"
        tally[verdict] += 1
        print(f"{q:32s} exchanges {pe:>2} -> {ce:>2}  sorts {ps:>2} -> {cs:>2}  {verdict}")
        if verdict == "DIFF":
            sys.stdout.writelines(difflib.unified_diff(
                p.splitlines(keepends=True), c.splitlines(keepends=True),
                f"parent/{q}.txt", f"change/{q}.txt", n=1))
    (pe, ps), (ce, cs) = totals(parent), totals(change)
    print(f"== total exchanges {pe} -> {ce}  sorts {ps} -> {cs}  "
          + " / ".join(f"{n} {k}" for k, n in tally.items()) + " ==")
    return 1 if tally["DIFF"] or tally["MISSING"] else 0


if __name__ == "__main__":
    # a closed pipe ends the tool silently, as it ends any Unix filter
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
