#!/usr/bin/env python3
"""Coverage-drift check: the three hand-maintained views of the query
surface — README.md's family table, SURVEY.md §8's full inventory, and
SparkEntry.queries (read from bench_detail.json, which Bench emits from
that map) — must agree exactly, and README's "N ScalaTest specs" claims
must equal the specs registered under src/test.

Usage: coverage_check.py [BENCH_DETAIL.json] [--update]

Checks (exit 1 on any drift):
  1. every query maps to exactly ONE README family row (longest literal
     prefix wins across the backticked patterns in the first cell), no
     row is empty, and each row's claimed count matches;
  2. SURVEY.md §8's generated inventory block (between the
     COVERAGE-INVENTORY markers) is set-equal to the live query list;
  3. every "N ScalaTest specs" in README.md states the number of
     `test("...")` registrations in src/test (counted statically, so a
     spec must be registered by its own `test(` line, not in a loop).

--update regenerates the SURVEY inventory block and rewrites README
family and spec counts in place; it still FAILS if a query matches no README
family row — a brand-new family needs its documentation row written by
hand, which is exactly the drift this tool exists to catch.
bench_round.py runs the check (no --update) with every snapshot.
"""
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BEGIN = "<!-- COVERAGE-INVENTORY-BEGIN (generated: tools/coverage_check.py --update) -->"
END = "<!-- COVERAGE-INVENTORY-END -->"
SPEC_REGISTRATION = re.compile(r'^\s*test\("', re.M)
SPEC_CLAIM = re.compile(r"(\d+) ScalaTest specs")


def count_specs():
    """Number of `test("...")` registrations under src/test."""
    n = 0
    for dirpath, _, files in os.walk(os.path.join(REPO, "src", "test")):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(dirpath, f)) as fh:
                    n += len(SPEC_REGISTRATION.findall(fh.read()))
    return n


def parse_readme_rows(readme):
    """[(line_idx, [(regex, literal_prefix_len)], claimed_count)] from the
    family table (first cell's backticked, space/comma-separated patterns)."""
    rows = []
    lines = readme.splitlines()
    in_table = False
    for i, ln in enumerate(lines):
        if ln.startswith("| Family (prefix)"):
            in_table = True
            continue
        if in_table:
            if not ln.startswith("|"):
                break
            cells = [c.strip() for c in ln.strip("|").split("|")]
            if len(cells) < 2 or set(cells[0]) <= {"-"}:
                continue
            toks = " ".join(re.findall(r"`([^`]+)`", cells[0]))
            pats = []
            for tok in re.split(r"[,\s]+", toks):
                if not tok.startswith("q_"):
                    continue
                m = re.match(r"^(q_[a-z]+)\d+\.\.q_[a-z]+\d+$", tok)
                if m:  # range like q_t1..q_t24
                    pats.append((re.compile(re.escape(m.group(1)) + r"\d+_.*"),
                                 len(m.group(1)) + 1))
                elif tok.endswith("*"):
                    pats.append((re.compile(re.escape(tok[:-1]) + ".*"),
                                 len(tok) - 1))
                else:  # bare token doubles as its own prefix (q_set, q_tz)
                    pats.append((re.compile(re.escape(tok) + ".*"), len(tok)))
            if pats:
                rows.append((i, pats, int(cells[1])))
    return rows


def assign(queries, rows):
    """query -> row line_idx by longest literal prefix; collects orphans
    and ambiguous (same max length in two different rows)."""
    owner, orphans, ambiguous = {}, [], []
    for q in queries:
        best = []  # (prefix_len, row_idx)
        for idx, pats, _ in rows:
            for rx, plen in pats:
                if rx.fullmatch(q):
                    best.append((plen, idx))
        if not best:
            orphans.append(q)
            continue
        best.sort(reverse=True)
        top = [b for b in best if b[0] == best[0][0]]
        if len({b[1] for b in top}) > 1:
            ambiguous.append((q, sorted({b[1] for b in top})))
            continue
        owner[q] = best[0][1]
    return owner, orphans, ambiguous


def main() -> int:
    argv = sys.argv[1:]
    update = "--update" in argv
    if update:
        argv.remove("--update")
    detail_path = argv[0] if argv else os.path.join(REPO, "bench_detail.json")
    queries = sorted(json.load(open(detail_path))["queries"])

    bad = []
    readme_path = os.path.join(REPO, "README.md")
    readme = open(readme_path).read()
    rows = parse_readme_rows(readme)
    if not rows:
        bad.append("README.md: family table not found")
    owner, orphans, ambiguous = assign(queries, rows)
    for q in orphans:
        bad.append(f"README.md: {q} matches NO family row — add one")
    for q, idxs in ambiguous:
        bad.append(f"README.md: {q} matches rows at lines {idxs} ambiguously")
    lines = readme.splitlines()
    for idx, _, claimed in rows:
        actual = sum(1 for q in owner if owner[q] == idx)
        if actual != claimed:
            if update:
                cells = lines[idx].strip("|").split("|")
                cells[1] = f" {actual} "
                lines[idx] = "|" + "|".join(cells) + "|"
                print(f"README.md line {idx + 1}: count {claimed} -> {actual}")
            else:
                bad.append(f"README.md line {idx + 1}: claims {claimed} "
                           f"queries, live map has {actual}")
    specs = count_specs()
    claims = [(i, int(m.group(1))) for i, ln in enumerate(lines)
              for m in SPEC_CLAIM.finditer(ln)]
    if not claims:
        bad.append("README.md: no \"N ScalaTest specs\" claim found")
    for i, claimed in claims:
        if claimed == specs:
            continue
        if update:
            lines[i] = SPEC_CLAIM.sub(f"{specs} ScalaTest specs", lines[i])
            print(f"README.md line {i + 1}: specs {claimed} -> {specs}")
        else:
            bad.append(f"README.md line {i + 1}: claims {claimed} ScalaTest "
                       f"specs, src/test registers {specs}")
    if update and lines != readme.splitlines():
        open(readme_path, "w").write("\n".join(lines) + "\n")

    survey_path = os.path.join(REPO, "SURVEY.md")
    survey = open(survey_path).read()
    m = re.search(re.escape(BEGIN) + r"(.*?)" + re.escape(END), survey, re.S)
    block = "\n".join(
        f"`{q}`" for q in queries)
    if update:
        gen = f"{BEGIN}\n{len(queries)} queries:\n{block}\n{END}"
        if m:
            survey = survey[:m.start()] + gen + survey[m.end():]
        else:
            survey = survey.rstrip() + "\n\n### 8.1 Full query inventory\n\n" + gen + "\n"
        open(survey_path, "w").write(survey)
        print(f"SURVEY.md inventory block regenerated ({len(queries)} names)")
    elif not m:
        bad.append("SURVEY.md: inventory block missing — run --update once")
    else:
        listed = set(re.findall(r"`(q_[a-z0-9_]+)`", m.group(1)))
        for q in sorted(set(queries) - listed):
            bad.append(f"SURVEY.md §8 inventory: missing {q}")
        for q in sorted(listed - set(queries)):
            bad.append(f"SURVEY.md §8 inventory: stale {q} (not in the map)")

    for b in bad:
        print(f"DRIFT {b}")
    if not bad:
        print(f"coverage: clean — {len(queries)} queries consistent across "
              f"SparkEntry/README/SURVEY, {specs} specs as README states")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
