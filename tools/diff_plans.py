"""Compare two `tools/capture_plans.py` output directories query by query.

Usage: python tools/diff_plans.py DIR_A DIR_B

Each `<query>_<suffix>.txt` in DIR_A is paired with the file of the same
query in DIR_B (the suffixes may differ). Before comparing, the two header
lines `capture_plans.py` writes (query/suffix/sf_dir and the construction
wall time) are dropped, and the ids Spark hands out from process-global
counters are blanked:

- `#<n>` expression ids, `plan_id=<n>` and RDD ids (`RDD[<n>]`, the
  scan of a DataFrame made from local rows);
- whole-stage-codegen ids (`codegen id : <n>`) and the stage id an AQE
  `...QueryStage` node prints as its `Arguments`: both are numbered in
  the order stages happen to be planned or materialized, which varies
  from run to run of the same code when a plan was partly executed
  while the DataFrame was built;
- the directory in front of `/wde_` in a `Location:` path: the
  registry's snapshot fixtures live under `$TMPDIR/wde_<name>_<tag>`,
  so two captures made in different TMPDIRs print different prefixes.
  The `wde_<name>_<tag>` part is kept, so a renamed or re-keyed
  snapshot still shows up as a difference;
- lambda variables `x_<n>` (also `y_<n>`, `z_<n>`): PySpark names each
  higher-order-function argument from one JVM-wide counter, so the number
  depends on how many lambdas the process built before. They are
  renumbered in order of first appearance in each plan, which keeps
  which variable is which.
- the call site of an RDD a plan scans (`... at localCheckpoint at
  <site>`): the JVM prints `NativeMethodAccessorImpl.java:0` in one
  process and `<unknown>:0` in another for the same call;
- the `== Final Plan ==` subtree AQE prints under a frame that was
  persisted and materialized while the DataFrame was built: its stages,
  statistics and join sides depend on what else the process ran first.
  The `== Initial Plan ==` next to it is kept. The detail blocks only
  the dropped subtrees refer to go with them, and the nodes left are
  renumbered in order of first appearance, so a final plan of another
  size does not shift every later node number.

Prints `IDENTICAL <query>` or `DIFF <query>` per query (and `MISSING` when
only one side has it), then a unified diff of each differing plan and a
summary line. Exits 1 if any plan differs or is missing.
"""

from __future__ import annotations

import difflib
import os
import re
import sys

_IDS = re.compile(r"#\d+|(?<=plan_id=)\d+|(?<=RDD\[)\d+|(?<=codegen id : )\d+")
_STAGE = re.compile(r"^\(\d+\) \w*QueryStage\b")
_LAMBDA = re.compile(r"\b([xyz])_(\d+)\b")
_TMPDIR = re.compile(r"(?<=file:)[^\s,\]]*(?=/wde_)")
_CALLSITE = re.compile(r"(\bat \w+ at )\S+:\d+")
_FINAL = re.compile(r"^(\s*)\+- == Final Plan ==$")
_NODE = re.compile(r"(?<= \()\d+(?=\)(?:,|$))")
_DETAIL = re.compile(r"^\((\d+)\) ")


def _drop_final_plans(lines: list[str]) -> list[str]:
    kept, skip = [], None
    for ln in lines:
        if skip is not None:
            if ln != skip + "+- == Initial Plan ==":
                continue
            skip = None
        m = _FINAL.match(ln)
        if m:
            skip = m.group(1)
            continue
        kept.append(ln)
    ids: dict[str, str] = {}
    in_detail = False
    for ln in kept:
        in_detail = bool(_DETAIL.match(ln)) or (in_detail and ln != "")
        if not in_detail:
            for n in _NODE.findall(ln):
                ids.setdefault(n, str(len(ids) + 1))
    out, drop, in_detail = [], False, False
    for ln in kept:
        m = _DETAIL.match(ln)
        if m:
            drop = m.group(1) not in ids
            if not drop:
                ln = f"({ids[m.group(1)]}) " + ln[m.end():]
        elif ln == "" and drop:  # the blank line closing a dropped block
            drop = False
            continue
        elif not in_detail:
            ln = _NODE.sub(lambda n: ids[n.group(0)], ln)
        in_detail = bool(m) or (in_detail and ln != "")
        if not drop:
            out.append(ln)
    return out


def normalize(text: str) -> list[str]:
    lines = text.splitlines()
    if lines and lines[0].startswith("== "):
        lines = lines[1:]
    if lines and lines[0].startswith("(DataFrame construction"):
        lines = lines[1:]
    if any(_FINAL.match(ln) for ln in lines):
        lines = _drop_final_plans(lines)
    seen: dict[str, str] = {}

    def lam(m: re.Match) -> str:
        return seen.setdefault(m.group(0), f"{m.group(1)}_{len(seen)}")

    out, stage = [], False
    for ln in lines:
        if stage and re.fullmatch(r"Arguments: \d+", ln):
            ln = "Arguments: #"
        stage = bool(_STAGE.match(ln)) or (stage and not ln.startswith("Arguments"))
        if ln.startswith("Location: "):
            ln = _TMPDIR.sub("$TMPDIR", ln)
        ln = _CALLSITE.sub(r"\1<site>", ln)
        out.append(_LAMBDA.sub(lam, _IDS.sub("#", ln)))
    return out


def plans(d: str) -> dict[str, str]:
    """query name -> file path; the name is the file name up to its last
    `_<suffix>` (so the suffix itself must not contain `_`)."""
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt"):
            out[f[:-4].rsplit("_", 1)[0]] = os.path.join(d, f)
    return out


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = plans(sys.argv[1]), plans(sys.argv[2])
    diffs, n_same = [], 0
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            print(f"MISSING    {q} (only in {'DIR_A' if q in a else 'DIR_B'})")
            diffs.append((q, []))
            continue
        with open(a[q]) as fa, open(b[q]) as fb:
            la, lb = normalize(fa.read()), normalize(fb.read())
        if la == lb:
            n_same += 1
            print(f"IDENTICAL  {q}")
        else:
            print(f"DIFF       {q}")
            diffs.append((q, list(difflib.unified_diff(
                la, lb, a[q], b[q], lineterm=""))))
    for q, d in diffs:
        if d:
            print(f"\n== {q}")
            print("\n".join(d))
    print(f"\n{n_same}/{len(set(a) | set(b))} plans identical")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
