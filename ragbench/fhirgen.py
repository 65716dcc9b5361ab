"""Seeded FHIR note corpus with ground truth and golden expectations.

Each note is templated from its ground-truth record (FIXTURES.md §1-2)
in a phrasing the deterministic ``MockLLMClient`` recovers field for
field, so extraction output can be checked record by record. The
record holds exactly what the note states in the shape the extractor
returns it: immunization ``traits`` and allergy ``manifestation`` are
never stated, and immunization dates are written as calendar dates.

The golden questions' entities are planted (FIXTURES.md §6): patients
surnamed Rosenbaum with several immunizations, practitioners Josef
Klein and Arla Fritsch, patient 45 allergic to shellfish, influenza
shots and food allergies. ``Graph.golden`` derives every
question's expected values from the records in plain Python, replaying
the graph semantics (keyed last-write-wins nodes, distinct FK-checked
edges) without the engine.
"""

from __future__ import annotations

import random
import re
from collections import defaultdict
from datetime import datetime, timezone

MONTHS = (
    "January February March April May June July August September "
    "October November December"
).split()

_FEMALE = (
    "Lili Abbie Marinda Lindsay Gabrielle Claudie Rosalind Veta Soledad "
    "Theresa Dianna Emmaline Aracelis Layla Marylouise Cecila Joan Alysa "
    "Kimberly Hope Nora Irene Delia Olive Maren Tessa Luann Corinna"
).split()
_MALE = (
    "Gary Everette Ted Cletus Josef Royce Victor Hansen Marco Elias Dewey "
    "Boyd Lowell Emmett Wilbur Jasper Harlan Otis Rufus Clement Homer "
    "Alvin Lamar Stanton Ervin Wendell Milo Clay"
).split()
_FAMILY = (
    "Brekke Veum Abshire Medhurst Reilly Paucek Klein Fritsch Kassulke "
    "Torp Wisozk Auer Bode Adams Kuhn Batz Hansen Ullrich Krajcik Bednar "
    "Schmitt Koepp Keebler Bosco Jaskolski Vandervort Bahringer Russel "
    "Ortiz Lemke Davis Harber Schuster Gleason Rempel Stokes Kunde Wyman"
).split()
_STREETS = (
    "Maple Oak Cedar Elm Pine Birch Walnut Chestnut Highland Summer "
    "Pleasant Prospect Union Spring Willow Hillside Ridge Meadow Grove "
    "Harbor Orchard Laurel Juniper Aspen"
).split()
_SUFFIXES = "Street Lane Road Avenue Way Drive Terrace Path".split()
_CITIES = (
    "Boston", "Springfield", "Worcester", "Lowell", "Cambridge",
    "New Bedford", "Brockton", "Quincy", "Lynn", "Fall River", "Newton",
    "Somerville", "Framingham", "Haverhill", "Waltham", "Malden",
    "Medford", "Taunton", "Chicopee", "Amherst", "Pittsfield",
)
_STATES = (
    ("Massachusetts", 0.8), ("Connecticut", 0.08),
    ("Rhode Island", 0.07), ("New Hampshire", 0.05),
)
# one-word substance names the mock extractor captures whole; the
# category is what its substance table (or its "other" default) says
SUBSTANCES = {
    "food": ("shellfish", "peanut", "fish", "eggs", "wheat", "soy", "milk"),
    "medication": ("penicillin", "aspirin", "sulfonamide", "ibuprofen", "codeine"),
    "environment": ("mold", "pollen", "dust", "latex"),
    "other": ("nickel", "adhesive", "fragrance"),
}
# vaccine wording -> one distinct group each in the mock extractor
VACCINES = (
    "influenza", "hepatitis B", "MMR", "varicella", "pneumococcal",
    "COVID-19", "shingles",
)
MARITAL = {
    "Married": "{P} is married.",
    "Divorced": "{P} is divorced.",
    "Widowed": "{P} is widowed.",
    "NeverMarried": "{P} has never been married.",
}

GOLDEN_QUESTIONS = (
    "How many patients with the last name 'Rosenbaum' received multiple immunizations?",
    "What are the full names of the patients treated by the practitioner named Josef Klein?",
    "Did the practitioner 'Arla Fritsch' treat more than one patient?",
    "What are the unique categories of substances patients are allergic to?",
    "How many patients were born in between the years 1990 and 2000?",
    "How many patients have been immunized after January 1, 2022?",
    "Which practitioner treated the most patients? Return their full name and how many patients they treated.",
    "Is the patient ID 45 allergic to the substance 'shellfish'? If so, what city and state do they live in, and what is the full name of the practitioner who treated them?",
    "How many patients are immunized for influenza?",
    "How many substances cause allergies in the category 'food'?",
)

# the golden set's planted patients (record ids are assigned in order)
_KLEIN_PATIENTS = (
    ("Ms.", ["Lili", "Abbie"], "Brekke"),
    ("Mrs.", ["Marinda", "Lindsay"], "Veum"),
    ("Mr.", ["Gary", "Everette"], "Abshire"),
    ("Ms.", ["Gabrielle", "Claudie"], "Medhurst"),
)


def _date(rng: random.Random, y0: int, y1: int) -> tuple[str, str]:
    """(ISO date, prose date) with day <= 28 so every month is valid."""
    y, m, d = rng.randint(y0, y1), rng.randint(1, 12), rng.randint(1, 28)
    return f"{y:04d}-{m:02d}-{d:02d}", f"{MONTHS[m - 1]} {d}, {y}"


def generate(n_notes: int, seed: int) -> tuple[list[tuple[int, str]], list[dict]]:
    """``n_notes`` (record_id, note) pairs and their ground-truth
    records. Same ``(n_notes, seed)``, same output."""
    rng = random.Random(seed)
    n_prac = max(8, n_notes // 14)
    pracs = [("Josef", "Klein"), ("Arla", "Fritsch"), ("Ted", "Reilly"),
             ("Cletus", "Paucek")]
    seen = set(pracs)
    while len(pracs) < n_prac:
        p = (rng.choice(_FEMALE + _MALE), rng.choice(_FAMILY))
        if p not in seen:
            seen.add(p)
            pracs.append(p)
    # Reilly takes the largest panel unless a random one ties it
    panel = [pracs[4:][i % max(1, len(pracs) - 4)] for i in range(n_notes)]
    rng.shuffle(panel)
    used_lines: set[str] = set()
    notes: list[tuple[int, str]] = []
    records: list[dict] = []
    for rid in range(1, n_notes + 1):
        male = rng.random() < 0.5
        prefix = "Mr." if male else rng.choice(("Mrs.", "Ms."))
        given = [rng.choice(_MALE if male else _FEMALE)]
        if rng.random() < 0.4:
            given.append(rng.choice(_MALE if male else _FEMALE))
        family = rng.choice(_FAMILY)
        prac = panel[rid - 1] if rng.random() < 0.9 else None
        if rid % 97 == 7:
            prac = ("Ted", "Reilly")
        city, state = rng.choice(_CITIES), _pick_state(rng)
        allergy = None
        if rng.random() < 0.4:
            cat = rng.choice(tuple(SUBSTANCES))
            allergy = (cat, rng.choice(SUBSTANCES[cat]))
        vaccines = []
        if rng.random() < 0.6:
            vaccines = rng.sample(VACCINES, rng.randint(1, 3))
        if rid <= len(_KLEIN_PATIENTS):
            prefix, given, family = _KLEIN_PATIENTS[rid - 1]
            male = prefix == "Mr."
            prac = ("Josef", "Klein")
        elif rid in (5, 6, 7):
            prac = ("Arla", "Fritsch")
        elif rid in (8, 9, 10):
            family = "Rosenbaum"
            vaccines = ["influenza", "hepatitis B"]
        if rid == 45:
            allergy = ("food", "shellfish")
            city, state = "East Longmeadow", "Massachusetts"
            prac = ("Cletus", "Paucek")
        note, rec = _render(rng, rid, male, prefix, given, family, prac,
                            city, state, allergy, vaccines, used_lines)
        notes.append((rid, note))
        records.append(rec)
    return notes, records


def _pick_state(rng: random.Random) -> str:
    r = rng.random()
    for state, p in _STATES:
        if r < p:
            return state
        r -= p
    return _STATES[0][0]


def _render(rng, rid, male, prefix, given, family, prac, city, state,
            allergy, vaccines, used_lines) -> tuple[str, dict]:
    P = "He" if male else "She"
    gender = None if rng.random() < 0.1 else ("Male" if male else "Female")
    birth_iso, birth_txt = _date(rng, 1935, 2015)
    if rng.random() < 0.15:
        birth_iso, birth_txt = _date(rng, 1990, 2000)
    full = " ".join([prefix, *given, family])
    parts = [
        f"{full} is a {gender.lower()} patient born on {birth_txt}."
        if gender else f"{full} was born on {birth_txt}."
    ]
    address = None
    if rng.random() < 0.85 or rid == 45:
        while True:
            line = f"{rng.randint(1, 9999)} {rng.choice(_STREETS)} {rng.choice(_SUFFIXES)}"
            if line not in used_lines:
                used_lines.add(line)
                break
        zipc = f"0{rng.randint(1000, 9999)}"
        address = {"line": line, "city": city, "state": state,
                   "postalCode": zipc, "country": "US"}
        parts.append(f"{P} lives at {line}, {city}, {state} {zipc}.")
    phone = None
    if rng.random() < 0.8:
        phone = f"555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}"
        parts.append(f"{'His' if male else 'Her'} phone number is {phone}.")
    marital = rng.choice((*MARITAL, None))
    if marital:
        parts.append(MARITAL[marital].format(P=P))
    lang = rng.choice(("English", "Spanish", None))
    if lang:
        parts.append(f"{P} speaks {lang}.")
    if allergy:
        parts.append(f"{P} is allergic to {allergy[1]}.")
    imms = []
    for v in vaccines:
        iso, txt = _date(rng, 2012, 2024)
        parts.append(f"{P} received the {v} vaccine on {txt}.")
        imms.append({"traits": None, "status": "completed",
                     "occurrenceDateTime": iso})
    practitioner = None
    if prac:
        parts.append(f"{P} is treated by Dr. {prac[0]} {prac[1]}.")
        practitioner = {
            "name": {"family": prac[1], "given": [prac[0]], "prefix": "Dr."},
            "address": None, "phone": None, "email": None,
        }
    rec = {
        "record_id": rid,
        "name": {"family": family, "given": list(given), "prefix": prefix},
        "age": None,
        "gender": gender,
        "birthDate": birth_iso,
        "address": address,
        "phone": phone,
        "email": None,
        "maritalStatus": marital,
        "primaryLanguage": lang,
        "allergy": {"substance": [{"category": allergy[0], "name": allergy[1],
                                   "manifestation": None}]} if allergy else None,
        "immunization": imms or None,
        "practitioner": practitioner,
    }
    return " ".join(parts), rec


# ---------------------------------------------------------------------------
# Expected golden values, derived from the records without the engine
# ---------------------------------------------------------------------------

_TS_RE = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:Z|[+-]\d{2}:\d{2})?$")


def _utc(ts: str | None) -> datetime | None:
    """The engine's ``try_to_timestamp(yyyy-MM-dd'T'HH:mm:ss[XXX])``:
    a date without a time does not parse; no offset reads as UTC."""
    if not ts or not _TS_RE.match(ts):
        return None
    d = datetime.fromisoformat(ts.replace("Z", "+00:00"))
    return d.astimezone(timezone.utc).replace(tzinfo=None) if d.tzinfo else d


def _clean_id(s: str) -> str:
    return s.lower().replace(".", "")


class Graph:
    """The property graph the engine should derive from ``records``:
    keyed nodes (last write wins in record order) and distinct,
    FK-checked edges."""

    def __init__(self, records: list[dict]) -> None:
        self.patients = {r["record_id"]: r for r in records}
        self.prac_name: dict[str, str] = {}  # practitioner id -> full name
        self.treats: dict[str, set[int]] = defaultdict(set)
        self.imm_ids: dict[int, set[str]] = defaultdict(set)
        self.imm_node: dict[str, dict] = {}
        self.allergy_node: dict[str, str | None] = {}  # id -> category
        self.causes: set[tuple[str, str]] = set()  # (substance, allergy id)
        self.experiences: set[tuple[int, str]] = set()
        self.address: dict[str, dict] = {}
        self.lives_in: dict[int, set[str]] = defaultdict(set)
        for rid, r in sorted(self.patients.items()):
            p = r["practitioner"]
            if p is not None:
                n = p["name"]
                pid = _clean_id(f"{n['prefix']}_{'_'.join(n['given'])}_{n['family']}")
                self.prac_name[pid] = f"{''.join(n['given'])} {n['family']}"
                self.treats[pid].add(rid)
            for im in r["immunization"] or ():
                iid = f"{rid}_{(im['status'] or 'unknown').lower()}"
                self.imm_ids[rid].add(iid)
                self.imm_node[iid] = im
            for sub in (r["allergy"] or {}).get("substance") or ():
                cat, name = sub["category"], sub["name"]
                aid = _clean_id(f"{rid}_{cat or 'unknown'}_{name or 'unknown'}")
                self.allergy_node[aid] = cat.lower() if cat else None
                self.experiences.add((rid, aid))
                if name is not None:
                    self.causes.add((name.lower(), aid))
            a = r["address"]
            if a is not None and a["line"] is not None and a["postalCode"] is not None:
                aid = _clean_id(f"{a['line']}_{a['postalCode']}")
                self.address[aid] = a
                self.lives_in[rid].add(aid)

    def counts(self) -> dict[str, int]:
        """Expected row count of each of the 11 graph tables."""
        return {
            "patient": len(self.patients),
            "address": len(self.address),
            "practitioner": len(self.prac_name),
            "substance": len({s for s, _ in self.causes}),
            "allergy": len(self.allergy_node),
            "immunization": len(self.imm_node),
            "lives_in": sum(map(len, self.lives_in.values())),
            "treats": sum(map(len, self.treats.values())),
            "experiences": len(self.experiences),
            "causes": len(self.causes),
            "has_immunization": sum(map(len, self.imm_ids.values())),
        }

    def golden(self) -> list[tuple[str, tuple[str, ...]]]:
        """(question, expected values) for the ten golden questions;
        the final answer must contain each value."""
        def full(rid):
            n = self.patients[rid]["name"]
            return f"{' '.join(n['given'])} {n['family']}"

        def pracs(name):
            return [pid for pid, nm in self.prac_name.items() if nm == name]

        def n_imm(pred):
            return str(sum(1 for ids in self.imm_ids.values()
                           if any(pred(self.imm_node[i]) for i in ids)))

        cutoff = datetime(2022, 1, 1)
        top = min(self.prac_name,
                  key=lambda pid: (-len(self.treats[pid]), self.prac_name[pid]))
        q8 = []
        if any(s == "shellfish" and (45, aid) in self.experiences
               for s, aid in self.causes):
            for aid in sorted(self.lives_in[45]):
                for pid, rids in self.treats.items():
                    if 45 in rids:
                        a = self.address[aid]
                        q8 += [a["city"], a["state"], self.prac_name[pid]]
        values = [
            (str(sum(1 for rid, r in self.patients.items()
                     if r["name"]["family"] == "Rosenbaum"
                     and len(self.imm_ids[rid]) > 1)),),
            tuple(full(rid) for pid in pracs("Josef Klein")
                  for rid in sorted(self.treats[pid])),
            ("yes" if sum(len(self.treats[p]) for p in pracs("Arla Fritsch")) > 1
             else "no",),
            tuple(sorted({c for c in self.allergy_node.values() if c})),
            (str(sum(1 for r in self.patients.values()
                     if r["birthDate"] and 1990 <= int(r["birthDate"][:4]) <= 2000)),),
            (n_imm(lambda im: (_utc(im["occurrenceDateTime"]) or cutoff) > cutoff),),
            (self.prac_name[top], str(len(self.treats[top]))),
            tuple(q8),
            (n_imm(lambda im: "influenza" in ", ".join(im["traits"] or ()).lower()),),
            (str(len({s for s, aid in self.causes
                      if self.allergy_node.get(aid) == "food"})),),
        ]
        return list(zip(GOLDEN_QUESTIONS, values))
