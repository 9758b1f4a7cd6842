#!/usr/bin/env python3
"""Compare two `graft.PlanDump` output directories.

    python3 scripts/plan_diff.py A B

Each `<query>.txt` a PlanDump writes opens with `jobs: N, actions: M`
and then holds one `== i/M: <action> ==` section per action. Ids that
change from run to run are normalised away before the bodies are
compared:

- expression ids (`#123`), lambda variable ids (`lambda x_12`), exchange plan
  ids (`[plan_id=123]`), whole-stage codegen ids (`*(3)`) and RDD ids;
- the hash-and-pid suffix of per-process tmp and table names
  (`graft_evo_d178f9eb_8736_1a154fb022f`), UUIDs, JVM lambda class
  names and object identity hashes (`TopKAggregator@4abcf07c`), and
  durable-state version directories (`v000017`, which grow with every
  process that spills to the same root);
- the path list of a scan's `InMemoryFileIndex`, which Spark cuts at a
  fixed length, so a pid one digit longer moves the cut;
- the AQE `== Final Plan ==` sections (runtime build sides and stage
  choices vary); only the `== Initial Plan ==` of each adaptive plan is
  kept, and `isFinalPlan=` is dropped.

It prints, per query, the `jobs:`/`actions:` deltas, the queries whose
action sequence differs, and the queries whose normalised bodies
differ. It exits 1 if a query is missing on one side or any action
sequence differs, else 0.
"""
import os
import re
import sys

HEADER = re.compile(r"^jobs: (\d+), actions: (\d+)$")
SECTION = re.compile(r"^== \d+/\d+: (.*) ==$")
FINAL = "+- == Final Plan =="
INITIAL = "+- == Initial Plan =="

SUBS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"lambda ([A-Za-z]+)_\d+"), r"lambda \1_"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=]"),
    (re.compile(r"\*\(\d+\)"), "*()"),
    (re.compile(r"\bRDD\[\d+\]"), "RDD[]"),
    (re.compile(r"isFinalPlan=(true|false)"), ""),
    (re.compile(r"_[0-9a-f]{1,8}_\d+_[0-9a-f]{8,}"), "_<tag>"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@"),
    (re.compile(r"/v\d{6,}/"), "/v<n>/"),
    (re.compile(r"(InMemoryFileIndex\(\d+ paths\))\[[^\]]*\]"), r"\1[]"),
]


def drop_final_plans(lines):
    """Drop every AQE `Final Plan` section: from its marker line up to
    the `Initial Plan` marker at the same column."""
    out, skip_col = [], None
    for line in lines:
        if skip_col is not None:
            if line.find(INITIAL) == skip_col:
                skip_col = None
                out.append(line)
            continue
        col = line.find(FINAL)
        if col >= 0:
            skip_col = col
            continue
        out.append(line)
    return out


def normalise(line):
    for pat, rep in SUBS:
        line = pat.sub(rep, line)
    return line.rstrip()


def parse(path):
    """(jobs, actions, [action names], normalised body)."""
    with open(path, encoding="utf-8") as f:
        lines = f.read().split("\n")
    m = HEADER.match(lines[0])
    if not m:
        raise SystemExit(f"{path}: no 'jobs: N, actions: M' header")
    body = [normalise(x) for x in drop_final_plans(lines[1:])]
    names = [s.group(1) for s in map(SECTION.match, body) if s]
    return int(m.group(1)), int(m.group(2)), names, "\n".join(body)


def load(d):
    return {f[:-4]: parse(os.path.join(d, f))
            for f in sorted(os.listdir(d)) if f.endswith(".txt")}


def main(argv):
    if len(argv) != 3:
        raise SystemExit(__doc__)
    a, b = load(argv[1]), load(argv[2])
    bad = False
    for side, x, y in (("A", a, b), ("B", b, a)):
        for q in sorted(set(x) - set(y)):
            print(f"only in {side}: {q}")
            bad = True
    common = sorted(set(a) & set(b))
    job_deltas, seq_diff, body_diff = [], [], []
    for q in common:
        ja, na, sa, ba = a[q]
        jb, nb, sb, bb = b[q]
        if ja != jb or na != nb:
            job_deltas.append((q, ja, jb, na, nb))
        if sa != sb:
            seq_diff.append(q)
        elif ba != bb:
            body_diff.append(q)
    print(f"{len(common)} queries in both")
    tot_a = sum(a[q][0] for q in common)
    tot_b = sum(b[q][0] for q in common)
    print(f"jobs: {tot_a} -> {tot_b} ({tot_b - tot_a:+d})")
    print(f"jobs/actions deltas ({len(job_deltas)}):")
    for q, ja, jb, na, nb in job_deltas:
        print(f"  {q}: jobs {ja} -> {jb} ({jb - ja:+d}), "
              f"actions {na} -> {nb} ({nb - na:+d})")
    print(f"action sequence differs ({len(seq_diff)}):")
    for q in seq_diff:
        print(f"  {q}: {a[q][2]} -> {b[q][2]}")
    print(f"normalised bodies differ, same action sequence "
          f"({len(body_diff)}): {' '.join(body_diff)}")
    return 1 if bad or seq_diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
