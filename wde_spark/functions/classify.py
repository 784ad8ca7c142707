r"""Name classification → structured query record ("qdict") — SURVEY.md §2.7
F10-F15, §2.3 J3, §2.8 Q1-Q3.

Reference parity (citations into /root/reference):
  F10 parenthesis extraction       script/utils/itemtoid_prep.py:47-54
  F11 6-way name classification    script/utils/itemtoid_prep.py:57-289
  F12 nobility-name parsing        script/utils/itemtoid_prep.py:211-243
  F13 Dumas père/fils              script/utils/itemtoid_prep.py:258-276
  F14 birth/death date extraction  script/utils/itemtoid_prep.py:292-303
  F15 occupation extraction        script/utils/itemtoid_prep.py:305-341
  Q1-Q2 relaxation ladder          script/itemtoid.py:187-304
  Q3 certitude scoring             script/itemtoid.py:54-113
  F5 query-string cleaning         script/itemtoid.py:128-132

This is ordered, dictionary-driven, regex-backtracking logic — the kind of
per-row compute that belongs in an Arrow-batched UDF, not a thousand-node
`when()` tree: it is local to one catalogue (one Python group each, scales
linearly with executors) and dominated by Python regex work that Catalyst
could not vectorize anyway. The surrounding *plan* (candidate explosion,
cache join, top-1 selection) stays declarative — see
wde_spark/plans/resolve.py.

Deliberately preserved reference behaviors (bug-compatible by default, so
results line up with the shipped 65k-query cache and golden test set):
  - relaunch_query's `len(out) != ""` always-true test → only the FIRST
    available parameter is ever dropped (script/itemtoid.py:214).
  - the fname re-append guarded by `not re.match(r"^\s*?", ...)` never
    happens (script/itemtoid.py:268).
  - `v.replace(abv, full)` expands ALL substring occurrences of a matched
    abbreviation, not just the boundary-matched one (script/itemtoid.py:244).
  - the `other`-table branch assigns a regex match against a lowercased
    string with an uppercase-only pattern → lname None → rendered "none"
    in the query string (script/utils/itemtoid_prep.py:119).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ..data import load
from .names import namebuild

QDICT_FIELDS = ["fname", "lname", "nobname_sts", "status", "dates",
                "function", "rebuilt"]

_UC = "A-ZÀÂÄÈÉÊËÏÔŒÙÛÜŸ"
_LC = "a-zàáâäéèêëíìîïòóôöúùûüøœæç"

_RE_SAME = re.compile(r"(le|la)\sm[êe]me\.?")
_RE_DIVERS = re.compile(r"([Dd]((OCUMENT|ocument)[Ss]?|(IVERS|ivers))|\s)+")
_RE_CHARTE = re.compile(r"[Cc](HARTE|harte)[sS]?")
_RE_GEO_CLEAN = re.compile(r"(\.|,|(\s-)|(-\s))+")
_RE_YEAR = re.compile(r"\d{4}")


@dataclass
class QDict:
    """The 7-field query-feature record (itemtoid_prep.py:343-351)."""
    fname: str | None = ""
    lname: str | None = ""
    nobname_sts: str = ""
    status: str = ""
    dates: str = ""
    function: str = ""
    rebuilt: bool = False

    def as_tuple(self) -> tuple:
        return (self.fname, self.lname, self.nobname_sts, self.status,
                self.dates, self.function, self.rebuilt)


def is_same_as_previous(name: str) -> bool:
    """CASE 1 — `le même` / `la même`: reuse the previous row's qdict
    (order-dependent W1 semantics; carried by the per-catalogue kernel of
    plans/resolve.py)."""
    return _RE_SAME.match(name.lower()) is not None


def _geo_tokens(name: str) -> list[str]:
    return _RE_GEO_CLEAN.sub(" ", name).lower().split()


def _classify_geographic(name: str, matchstr: str, q: QDict) -> None:
    """CASE 4 — geographic names (itemtoid_prep.py:72-158)."""
    status: dict = load("status")
    dpts: list = load("dpts")
    provinces: list = load("provinces")
    colonies: list = load("colonies")
    countries: dict = load("countries")
    events: dict = load("events")
    other: dict = load("other")

    low = name.lower()
    if not (matchstr == "" and not any(s in low for s in status)):
        return  # looked geographic but carries a personal name → untreated

    name = re.sub(r"(^\.?\s+|.?\s+.?$)", "", name).lower()

    if name in ("pelet de la lozère", "anne de bretagne", "jeanne de bourgogne"):
        q.fname = re.search(r"^[a-z]+", name)[0]
        q.lname = re.search(r"de", name)[0]
    elif re.search(r"[ée]glises?", name):
        for d in dpts:
            if d in name:
                q.lname = d
                q.fname = "religious buildings"
    elif any(o in name for o in other):
        for o in other:
            if o in name:
                q.fname = other[o]
                # Reference quirk: uppercase-anchored search on a lowercased
                # string — never matches, lname becomes None ("none" in the
                # query string).
                mo = re.search(rf"^[{_UC}]+[{_LC}]*", name)
                q.lname = mo[0] if mo is not None else None
    elif any(e in name for e in events):
        for k, v in events.items():
            if k in name:
                q.fname = v
                if _RE_YEAR.search(name) is not None:
                    q.dates += _RE_YEAR.search(name)[0] + " "
                for c in countries:
                    if c in name:
                        q.lname = countries[c]
                for p in provinces:
                    if p in name:
                        q.lname = p
                for c in colonies:
                    if c in name:
                        q.lname = c
                for d in dpts:
                    if d in name:
                        q.lname = d
    else:
        for c in countries:
            if c in name:
                q.lname = countries[c]
        for p in provinces:
            if p in name:
                q.fname = "province"
                q.lname = p
        for c in colonies:
            if c in name:
                q.fname = "french"
                q.lname = c
        for d in dpts:
            if d in name:
                q.fname = "french department"
                q.lname = d


def _classify_event(name: str, q: QDict) -> None:
    """CASE 5 — historical events (itemtoid_prep.py:161-203)."""
    events: dict = load("events")
    name = _RE_GEO_CLEAN.sub(" ", name).lower()

    if re.search(r"^(r[eé]volution|\s|de|\d{4})*$", name):
        q.lname = "french revolution"
        q.dates = _RE_YEAR.search(name)[0] if _RE_YEAR.search(name) else ""
    elif re.search(r"^(guerre|\s|de|\d{4})*$", name):
        q.lname = "french war"
        q.dates = _RE_YEAR.search(name)[0] if _RE_YEAR.search(name) else ""
    elif re.search("r[eé]volution", name) and not any(
        e in _RE_GEO_CLEAN.sub(" ", name).lower().split()
        for e in events
        if not re.search(r"r[ée]volution(\sfran[çc]aise)?", e)
    ):
        q.lname = "french revolution"
    else:
        for k, v in events.items():
            if name == k or k in name:
                q.lname = v
                name = name.replace(k, " ")
        if _RE_YEAR.search(name):
            for d in _RE_YEAR.findall(name):
                q.dates += f"{d} "
                name = name.replace(d, " ")

    if (re.search(r"^\s*(war|siege|defense)\s*$", q.lname or "")
            and re.search(r"^\s*$", q.fname or "")
            and re.search(r"^\s*$", q.dates)):
        q.lname = ""


def _classify_person(name: str, parenth: str, inp: str, firstnm: str,
                     matchstr: str, q: QDict) -> None:
    """CASE 6 — a person's name (itemtoid_prep.py:206-289)."""
    status: dict = load("status")

    if inp != "":
        sts = False
        for k, v in status.items():
            if k in inp.lower():
                inp = inp.replace(matchstr, "")
                inp = re.sub(
                    rf",?\s?(le|la|l')?\s?{k}(\s(de|de\sla|du|d'|,)*(\s|$))*", "", inp)
                inp = re.sub(r"(^|\s)+(puis|dit)", "", inp)
                inp = re.sub(r"(^|\s)+([Ll]e|[Ll]a|[Dd]e(s)?|[Dd]u)+(\s|$)", "", inp)
                inp = re.sub(r"(^|\s)+(et|\.)(\s|$)", " ", inp)
                inp = re.sub(r"(l'|,)", "", inp)
                two_caps = re.match(rf"([{_UC}][{_LC}]+)([{_UC}])", inp)
                if two_caps:
                    inp = re.sub(rf"([{_UC}][{_LC}]*)([{_UC}])",
                                 f"{two_caps[1]} {two_caps[2]}", inp)
                inp = re.sub(rf"(\s|^)[{_LC}]+(\.|,|\s|$)", " ", inp)
                inp = re.sub(r"\s+", " ", inp)
                sts = True
                if v != "":
                    q.status += f"{v} "

        if sts:
            q.fname = firstnm
            q.lname = inp.lower()
            q.nobname_sts = name.replace(parenth, "")
        else:
            residual = inp.replace(matchstr, "")
            if not re.search(r"^\s*(\s|d'|de|dit|,)*\s*$", residual):
                addnm = namebuild(residual)[0]
                if len(addnm) > 0:
                    if "père" in inp and "Dumas" in name:
                        add = "père"
                    elif "fils" in inp and "Dumas" in name:
                        add = "fils"
                    else:
                        add = ""
                    if inp.find(matchstr) < inp.find(addnm):
                        q.fname = re.sub(r"\s+", " ", f"{firstnm} {add} {addnm}").lower()
                    else:
                        q.fname = re.sub(r"\s+", " ", f"{addnm} {add} {firstnm}").lower()
            else:
                outside = name.replace(parenth, "")
                if (re.search(r"(^|\s+)(père|fils)(\s+|$)", outside)
                        and re.search(r"(^|\s+)D(UMAS|umas)(\s+|$)", name)):
                    add = re.search(r"(^|\s+)(père|fils)(\s+|$)", outside)[0]
                else:
                    add = ""
                q.fname = re.sub(r"\s+", " ", f"{firstnm} {add}").lower()

            lname = name.replace(parenth, "").lower()
            lname = re.sub(r"(^|\s+)(père|fils)(\s+|$)", " ", lname)
            lname = re.sub(r",|\.", "", lname)
            q.lname = re.sub(r"\s+", " ", lname)
    else:
        q.lname = re.sub(
            r"\.|,|(^\s)|(\s$)|(-\s?$)|(^\s?-)|\(|\)|\"", "", name).lower()


def _extract_trait(trait: str, q: QDict) -> None:
    """F14 dates + F15 occupation from the tei:trait
    (itemtoid_prep.py:292-341)."""
    functions: dict = load("functions")

    if _RE_YEAR.search(trait):
        birth = re.search(r"(^|\s|,|\.)[Nn](.|\s|ée?).+?(?=\d{4})\d{4}", trait)
        if birth:
            q.dates += _RE_YEAR.search(birth[0])[0] + " "
        death = re.search(
            r"(^|\s|,|\.)((M\.|m\.)|[Mm](\s|orte?)).+?(?=\d{4})\d{4}", trait)
        if death:
            q.dates += _RE_YEAR.search(death[0])[0] + " "
        else:
            violent = re.search(
                r"(^|\s|,|\.)([Dd]écap|[Aa]ssa|[Tt]uée?|[Ff]usi|[Gg]uil).+?(?=\d{4})\d{4}",
                trait)
            if violent:
                q.dates += _RE_YEAR.search(violent[0])[0] + " "

    for w in trait.split():
        for k, v in functions.items():
            if w == k:
                q.function += f"{v} "

    toks = q.function.split()
    uniq = set(toks)
    if len(uniq) == 1:
        q.function = toks[0]
    elif len(uniq) > 1:
        if any(re.search(rf"(du|de|d'|par)\s(le|la|l')?\s?{k}", trait)
               for k in functions):
            for f_tok in toks:
                for k, v in functions.items():
                    if f_tok == v and re.search(
                            rf"(du|de|d')\s(le|la|l')?\s?{k}", trait):
                        q.function = re.sub(f_tok, "", q.function)
        elif "writer" in toks:
            q.function = re.sub(r"(writer|\s$)", "", q.function)
        elif ("general" in toks and "marshal" in toks) or (
                "military" in toks and "marshal" in toks):
            q.function = "marshal"
        elif "general" in toks and "military" in toks:
            q.function = "general"
        elif "emperor" in toks:
            q.function = "emperor"
        else:
            q.function = toks[0]


def prep_query(name: str, trait: str) -> QDict | None:
    """F10-F15 — build the qdict for one (tei:name, tei:trait) row.

    Returns None for `le même` rows: the caller propagates the previous
    row's qdict in catalogue order (SURVEY.md §2.5 W1), as the reference's
    sequential `prev` threading does (itemtoid_prep.py:57-62), restarted
    with each catalogue."""
    q = QDict()

    parenth_mo = re.search(r"\(.+\)?", name)
    if parenth_mo is not None:
        parenth = parenth_mo[0]
        inp = re.sub(r"\(|\)", "", parenth)
        firstnm, matchstr, q.rebuilt = namebuild(inp)
    else:
        parenth, inp, firstnm, matchstr = "", "", "", ""

    if is_same_as_previous(name):
        return None
    elif _RE_DIVERS.match(name):
        q.lname = ""
    elif _RE_CHARTE.search(name) is not None:
        q.lname = "charter"
    elif _is_geographic(name):
        _classify_geographic(name, matchstr, q)
    elif any(e in _geo_tokens(name) for e in load("events")):
        _classify_event(name, q)
    else:
        _classify_person(name, parenth, inp, firstnm, matchstr, q)

    _extract_trait(trait, q)
    return q


def _is_geographic(name: str) -> bool:
    toks = _geo_tokens(name)
    return (any(p in toks for p in load("provinces"))
            or any(d in toks for d in load("dpts"))
            or any(c in toks for c in load("colonies"))
            or any(c in toks for c in load("countries")))


# ---------------------------------------------------------------------------
# Q1/Q2 — the relaxation ladder as a pure candidate enumeration, and
# F5 — query-string cleaning.
# ---------------------------------------------------------------------------

def clean_query_string(qstr: str) -> str:
    """F5 — lowercase → order-preserving token dedup → punctuation → spaces
    (itemtoid.py:128-132). This exact form is the cache key."""
    toks = qstr.lower().split()
    s = re.sub(r"\s+", " ", " ".join(sorted(set(toks), key=toks.index)))
    s = re.sub(r"(!|\.|\?|;|/|\\|:|&|\(|\)|\[|\]|#|\"|,|^'|_)", " ", s)
    return re.sub(r"\s+", " ", s).strip()


def _sv(v) -> str:
    # None renders as "None" inside the reference's f-string interpolation
    return "None" if v is None else v


def expand_fname(fname: str | None) -> str | None:
    """launch_query's second-chance abbreviation expansion
    (itemtoid.py:240-245) — including its expand-ALL-occurrences behavior."""
    if fname is None or re.match(r"^\s*$", fname):
        return fname
    names: dict = load("names")
    v = fname
    for abv, full in names.items():
        if re.search(rf"(^|-|\s){abv}(\s|\.|-|$)", v):
            v = v.replace(abv, full)
    return v


def ladder_candidates(q: QDict) -> list[str]:
    """Q1+Q2 — every query string the reference would probe for this qdict,
    in probe order, already cleaned (cache-key form). Evaluating them all
    against the cache and keeping the first-ranked hit reproduces the
    reference's early-exit result exactly (SURVEY.md §2.8)."""
    q.fname = expand_fname(q.fname)
    avail = [k for k in ("nobname_sts", "status", "dates", "function")
             if not re.match(r"^\s*$", _sv(getattr(q, k)))]

    # The raw (pre-clean) string; replacements operate on this form.
    qstr0 = (f"{_sv(q.fname)} {_sv(q.lname)} {q.status} "
             f"{q.nobname_sts} {q.dates} {q.function}").lower()
    if re.match(r"^\s*$", qstr0):
        return []

    cands: list[str] = [qstr0]

    def relaunch(base: str) -> list[str]:
        out = []
        dates = q.dates.split()
        if len(dates) == 2:
            out.append(base.replace(dates[0], ""))
            out.append(base.replace(dates[1], ""))
        # Reference bug-compat: the subtractive loop always breaks after the
        # first parameter (itemtoid.py:214) — only avail[0] is ever dropped.
        if avail:
            out.append(base.replace(_sv(getattr(q, avail[0])), ""))
        return out

    cur = qstr0
    if q.nobname_sts != "":
        if _sv(q.fname) != "":
            cur = cur.replace(_sv(q.fname), "")
            cands.append(cur)
        if _sv(q.lname) != "":
            # the fname re-append at itemtoid.py:268-269 is dead code
            cur = cur.replace(_sv(q.lname), "")
            cands.append(cur)
        if _sv(q.fname) != "" and _sv(q.lname) != "":
            cur = cur.replace(_sv(q.fname), "").replace(_sv(q.lname), "")
            cands.append(cur)
        cands.extend(relaunch(cur))
    elif len(avail) >= 1:
        cands.extend(relaunch(cur))
    elif q.rebuilt:
        cur = qstr0.replace(_sv(q.fname), "")
        cands.append(cur)
        # avail is empty on this path: no relaunch

    if not re.search(r"^\s*$", _sv(q.fname)):
        cur = cur.replace(_sv(q.fname), "")
        cands.append(cur)
        if avail:
            cands.extend(relaunch(cur))

    cleaned = []
    seen = set()
    for c in cands:
        cc = clean_query_string(c)
        if cc and cc not in seen:
            seen.add(cc)
            cleaned.append(cc)
    return cleaned


def certitude(q: QDict, final_qstr: str) -> bool:
    """Q3 — confidence of a hit given the (cleaned) query string that
    produced it (itemtoid.py:54-113): >=4 matched parameters, or a date."""
    paramcount = 0
    qdate = False
    if not re.match(r"^\s*$", q.dates):
        d = q.dates.split()
        if d[0] in final_qstr or d[-1] in final_qstr:
            qdate = True
            paramcount += 1
    if q.rebuilt and not re.match(r"^\s*$", _sv(q.fname)):
        paramcount += 1
    for k in ("fname", "lname", "nobname_sts", "status", "function"):
        v = getattr(q, k)
        if isinstance(v, str) and not re.match(r"^\s*$", v) \
                and v.lower().strip() in final_qstr:
            paramcount += 1
    return paramcount >= 4 or qdate
