#!/usr/bin/env python3
"""Pick the query families a performance A/B must cover for a change.

Usage: python3 scripts/ab_subset.py [BASE]        (default BASE: HEAD)

Maps every changed file (tracked changes between BASE and the working
tree, plus untracked files) to the `SparkEntry.queries` ids it can move:

- src/main/scala/graft/queries/*.scala: the ids that file defines;
- src/main/scala/graft/plans/*.scala: the physical-plan rules' hosts,
  i.e. every query in PlanSpec's `intendedCross` set (the broadcast
  nested-loop joins), plus the COVERAGE.md rows naming the file's objects;
- any other library file: the ids on the COVERAGE.md rows (operator ->
  library -> oracle query tables) that name one of the file's top-level
  classes or objects;
- src/main/scala/graft/LocalSession.scala: every id (it builds the
  session every Bench plan runs in);
- the harness (Bench, Verify, Explain), the mains Bench never runs
  (lexam/Demo, streaming/StreamingDemo, operators/PipelineScaleBench)
  and non-library files: nothing.

A library file that maps to no id is listed as UNMAPPED: pick its
families by hand. The last stdout line is the id-prefix list to pass to
`sbt "runMain graft.Bench <prefixes>"`; add an untouched control query.
"""
import os, re, subprocess, sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB = "src/main/scala/graft/"
HARNESS = {LIB + f for f in ("Bench.scala", "Verify.scala", "Explain.scala")}
OTHER_MAINS = {LIB + f for f in ("lexam/Demo.scala", "streaming/StreamingDemo.scala",
                                 "operators/PipelineScaleBench.scala")}
SESSION = LIB + "LocalSession.scala"
# a query id is a SparkEntry map key bound to a `((s, dir) => …)` builder;
# other id-shaped keys (e.g. `"p50_words" -> 0.5`) are not queries
QUERY_ID = re.compile(r'"([a-z]+\d+_[a-z0-9_]+)"\s*->\s*\(\(')


def read(rel):
    with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
        return f.read()


def changed_files(base):
    def git(*args):
        return subprocess.run(["git", *args], cwd=ROOT, check=True,
                              capture_output=True, text=True).stdout.split()
    return sorted(set(git("diff", "--name-only", base)) |
                  set(git("ls-files", "--others", "--exclude-standard")))


def all_query_ids():
    ids = set()
    for d, _, files in os.walk(os.path.join(ROOT, LIB)):
        for f in files:
            if f.endswith(".scala"):
                ids |= set(QUERY_ID.findall(read(os.path.relpath(os.path.join(d, f), ROOT))))
    return ids


def intended_cross():
    spec = read("src/test/scala/graft/PlanSpec.scala")
    start = spec.find("val intendedCross = Set(")
    if start < 0:
        sys.exit("PlanSpec.scala: intendedCross set not found")
    # drop line comments (they hold parentheses), then cut at the Set's ")"
    body = re.sub(r"//[^\n]*", "", spec[start + len("val intendedCross = Set("):])
    return set(re.findall(r'"([a-z]+\d+_[a-z0-9_]+)"', body[:body.index(")")]))


def coverage_rows(known):
    """(row text, ids on the row) for every COVERAGE.md table row."""
    rows = []
    for line in read("COVERAGE.md").splitlines():
        if line.startswith("|"):
            ids = {t for t in re.findall(r"`([a-z]+\d+_[a-z0-9_]+)`", line) if t in known}
            if ids:
                rows.append((line, ids))
    return rows


TOP_LEVEL = re.compile(
    r"^(?:(?:private|protected)(?:\[\w+\])?\s+|(?:final|sealed|abstract|case|implicit)\s+)*"
    r"(?:class|object|trait)\s+(\w+)", re.M)


def top_level_names(rel):
    return set(TOP_LEVEL.findall(read(rel)))


def families(path, rows, cross, known):
    """(ids, reason) for one changed file."""
    if path == SESSION:
        return set(known), "session config: every query"
    if path in HARNESS:
        return set(), "bench/verify harness"
    if path in OTHER_MAINS:
        return set(), "a main Bench never runs"
    if not path.startswith(LIB) or not path.endswith(".scala"):
        return set(), "not a library source"
    if not os.path.exists(os.path.join(ROOT, path)):
        return set(), "deleted: pick its callers by hand"
    if path.startswith(LIB + "queries/"):
        ids = set(QUERY_ID.findall(read(path)))
        if ids:
            return ids, "defines these queries"
    names = top_level_names(path)
    hits = set()
    for line, ids in rows:
        if any(re.search(r"\b%s\b" % re.escape(n), line) for n in names):
            hits |= ids
    if path.startswith(LIB + "plans/"):
        return hits | cross, "physical-plan rule: PlanSpec intendedCross hosts + COVERAGE rows"
    return hits, "COVERAGE rows naming " + ", ".join(sorted(names))


def main(argv):
    files = changed_files(argv[0] if argv else "HEAD")
    known = all_query_ids()
    rows, cross = coverage_rows(known), intended_cross()
    selected, unmapped = set(), []
    for path in files:
        ids, why = families(path, rows, cross, known)
        if not ids and why.startswith(("COVERAGE", "deleted")):
            unmapped.append(path)
        selected |= ids
        print(f"{path}: {len(ids)} queries ({why})")
    for path in unmapped:
        print(f"UNMAPPED {path}: choose its query families by hand")
    print(f"{len(selected)} queries: " + " ".join(sorted(selected)))
    print(" ".join(sorted(q.split("_")[0] for q in selected)))


if __name__ == "__main__":
    main(sys.argv[1:])
