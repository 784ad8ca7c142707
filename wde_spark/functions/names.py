"""First-name matching and rebuilding — SURVEY.md §2.7 F6-F9.

Reference parity (citations into /root/reference):
  F6 abbreviated composed first names   script/utils/rgx.py:14-64
  F7 simple abbreviated first name      script/utils/rgx.py:67-96
  F8 full capitalized name runs         script/utils/rgx.py:99-117
  F9 namebuild (abbrev → full form)     script/utils/rgx.py:120-233

`namebuild` is a pure function of (string, two small lookup maps). It is
regex-backtracking + ordered-dict-scan heavy, so the engine keeps it as
plain Python invoked from Arrow-batched pandas UDFs (row-local — no shuffle,
scales linearly with executors; see functions/classify.py).
"""

from __future__ import annotations

import re

from ..data import load

# Accent-aware character classes used by every name regex (the reference's
# catalogues are 19th-century French: cedillas, ligatures, grave/circumflex).
UC = "A-ZÀÂÄÈÉÊËÏÔŒÙÛÜŸ"
LC = "a-zàáâäéèêëíìîïòóôöúùûüøœæç"

# F6 — the ordered alternatives for an abbreviated *composed* first name
# ("C.-A.", "J. F.", "Jean F.", "Charles-Edm.-G.", "A M"). Tried in order;
# the first pattern with a match wins (semantics of rgx.py:47-60's or-chain).
ABVCOMP_PATTERNS = [
    rf"(^|,|\s)[{UC}][{LC}]*\.?-[{UC}][{LC}]*\.(\s|,|$)",
    rf"(^|,|\s)[{UC}][{LC}]*\.-[{UC}][{LC}]*\.?(\s|,|$)",
    rf"(^|,|\s)[{UC}]\.?\s[{UC}][{LC}]*\.(\s|,|$)",
    rf"(^|,|\s)[{UC}][{LC}]*\.?\s[{UC}]\.(\s|,|$)",
    rf"(^|,|\s)[{UC}]\.?\s[{UC}]\.?(\s|,|$)",
    rf"([{UC}]\.){{2,}}",
    rf"(^|,|\s)([{UC}][{LC}]*\.?-)+([{UC}][{LC}]*\.)(\s|,|$)",
    rf"(^|,|\s)([{UC}][{LC}]*\.-)+([{UC}][{LC}]*\.?)(\s|,|$)",
]

# F7 — simple (non-composed) abbreviated first name: "Ad.", "J." (rgx.py:92)
ABVSIMP_PATTERN = rf"(^|\s)[{UC}][{LC}]*\.(\s|$|,)"

# F8 — full capitalized name run: "Jean Charles", "Marie-Madeleine" (rgx.py:112-113)
COMPLNM_PATTERN = rf"(^|\s)[{UC}][{LC}]+((\s|-)[{UC}][{LC}]+)*($|\s|,)"

_ABVCOMP_RE = [re.compile(p) for p in ABVCOMP_PATTERNS]
_ABVSIMP_RE = re.compile(ABVSIMP_PATTERN)
_COMPLNM_RE = re.compile(COMPLNM_PATTERN)


def match_abvcomp(nstr: str) -> str | None:
    """F6 — matched substring for an abbreviated composed first name."""
    for rx in _ABVCOMP_RE:
        mo = rx.search(nstr)
        if mo is not None:
            return mo[0]
    return None


def match_abvsimp(nstr: str) -> str | None:
    """F7 — matched substring for a simple abbreviated first name."""
    mo = _ABVSIMP_RE.search(nstr)
    return mo[0] if mo is not None else None


def match_complnm(nstr: str) -> str | None:
    """F8 — matched substring for a full (non-abbreviated) name run."""
    mo = _COMPLNM_RE.search(nstr)
    return mo[0] if mo is not None else None


def namebuild(nstr: str) -> tuple[str, str, bool]:
    """F9 — expand an abbreviated first name into its full normalized form.

    Returns (firstnm, matchstr, rebuilt):
      firstnm  — the rebuilt full first name ('' if nothing matched/expanded)
      matchstr — the raw substring matched as a name (for later removal from
                 the surrounding string by the classifier)
      rebuilt  — True iff the name was expanded via the lookup tables (and so
                 is trusted less by certitude scoring)

    Semantics follow reference script/utils/rgx.py:120-233: composed
    abbreviations consult `comp_names` first (exact, then first containing
    key, then initial-by-initial via `names`); simple abbreviations consult
    `names`; full-name matches are checked against both tables to catch
    "mismatches" (a full-looking token that is actually an abbreviation key).
    """
    names: dict[str, str] = load("names")
    comp_names: dict[str, str] = load("comp_names")

    firstnm = ""
    matchstr = ""
    rebuilt = False

    abvcomp = match_abvcomp(nstr)
    if abvcomp is not None:
        matchstr = abvcomp
        cleaned = re.sub(r"(^\s|\s$|\.)", "", abvcomp)
        cleaned = re.sub(r"-", " ", cleaned).lower()
        if cleaned in comp_names:
            firstnm = comp_names[cleaned]
            rebuilt = True
        else:
            # token-level rebuild: first a containing comp_names key, then
            # per-token exact lookups in `names` (declaration order).
            matched_tokens = {tok: False for tok in cleaned.split()}
            for k, v in comp_names.items():
                if k in cleaned:
                    firstnm += f"{v} "
                    for tok in k.split():
                        matched_tokens[tok] = True
                    rebuilt = True
                    break
            for tok, found in matched_tokens.items():
                if not found and tok in names:
                    firstnm += f"{names[tok]} "
                    matched_tokens[tok] = True
                    rebuilt = True
    else:
        abvsimp = match_abvsimp(nstr)
        if abvsimp is not None:
            matchstr = abvsimp
            cleaned = re.sub(r"(^\s|\s$|\.)", "", abvsimp).lower()
            if cleaned in names:
                firstnm = names[cleaned]
                rebuilt = True
        else:
            complnm = match_complnm(nstr)
            if complnm is not None:
                matchstr = complnm
                cleaned = re.sub(r"-", " ", complnm.lower())
                if cleaned in comp_names:
                    firstnm = comp_names[cleaned]
                elif cleaned in names:
                    firstnm = names[cleaned]
                else:
                    firstnm = cleaned

    return firstnm.replace(",", ""), matchstr, rebuilt


# ---------------------------------------------------------------------------
# Column-expression forms of the extraction regexes (JVM-side, for the
# generic operator surface; `regexp_extract` returns '' on no-match).
# ---------------------------------------------------------------------------

