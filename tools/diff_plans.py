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


def normalize(text: str) -> list[str]:
    lines = text.splitlines()
    if lines and lines[0].startswith("== "):
        lines = lines[1:]
    if lines and lines[0].startswith("(DataFrame construction"):
        lines = lines[1:]
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
