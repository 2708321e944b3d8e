"""Seeded input generator for the benchmark.

Every input the program sees is made here from one integer seed: the
same seed gives the same documents, the same enrichment tables and the
same operation sequence, byte for byte. Documents are SIR-style
(Special Investigation Report) page text that
``functions.extractors.parse_document`` parses; each record also keeps
the facts the text was built from (agency, date, title, SIR flag,
near-duplicate family), so every answer the benchmark checks is known
without running the program.

Duplicates are planted at fixed rates, as exact counts per batch:

* an exact duplicate repeats an earlier document's text verbatim, under
  a new ``doc_id``;
* a near-duplicate is an earlier document with one extra word appended,
  so its word-3-shingle Jaccard similarity to the original is
  ``S / (S + 1)`` for ``S`` shingles, about 0.996 here, far above the
  fold's 0.8 threshold, and unrelated documents share almost no
  shingles.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

# Title lines the extractor's cascade maps to a known document_title.
_NON_SIR_TITLES = {
    "RENEWAL INSPECTION REPORT": "Renewal Inspection Report",
    "INTERIM MONITORING REPORT": "Interim Monitoring Report",
    "CORRECTIVE ACTION PLAN": "Corrective Action Plan",
}
STATUSES = ["Regular", "Original", "1st Provisional", "Closed", "Inspected"]
AGENCY_TYPES = ["Child Placing Agency", "Child Caring Institution", "Foster Home"]
COUNTIES = ["Wayne", "Kent", "Ingham", "Marquette", "Oakland", "Kalamazoo"]
LEVELS = ["low", "moderate", "severe"]
CONFIDENCES = ["high", "medium", "low"]
LANGS = ["en", "en", "en", "es", "fr"]
KEYWORDS = [
    "inadequate supervision", "medication error", "physical restraint",
    "staff ratio", "missing documentation", "improper discipline",
    "runaway incident", "food service", "water temperature",
    "background check", "training overdue", "bedroom capacity",
    "fire drill", "incident report", "transport safety", "self harm",
    "verbal abuse", "neglect", "injury", "sanitation",
]
# curation map (reduce_keywords): two merges and one discard
KEYWORD_MAP = [
    ("neglect", "inadequate supervision"),
    ("staff ratio", "staffing shortage"),
    ("injury", ""),
]
STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it"]
_SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu", "na", "pe",
    "qui", "ro", "su", "ta", "ve", "wi", "xo", "yu", "zel", "mor", "tan",
    "lin", "dra", "ster", "plo", "vin",
]


def vocabulary(n: int = 2000) -> list[str]:
    """Fixed synthetic lowercase words: no title, date or label regex
    of the extractors can match them."""
    rng = random.Random("perfbench-vocabulary")
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


_VOCAB = vocabulary()


@dataclass(frozen=True)
class Agency:
    license: str
    name: str
    agency_type: str
    county: str
    status: str
    listed: bool  # present in the facilities table


@dataclass(frozen=True)
class Doc:
    doc_id: int
    pages: tuple[str, ...]
    agency: Agency
    is_sir: bool
    date_iso: str
    title: str  # expected document_title
    lang: str
    family: int  # doc_id of the original this near-duplicates (or its own)
    dateprocessed: str = ""
    text: str = field(init=False)
    sha256: str = field(init=False)

    def __post_init__(self):
        text = "\n".join(self.pages)
        object.__setattr__(self, "text", text)
        object.__setattr__(
            self, "sha256", hashlib.sha256(text.encode()).hexdigest()
        )


def make_agencies(rng: random.Random, n: int) -> list[Agency]:
    out = []
    for i in range(n):
        out.append(
            Agency(
                license=f"CB{250000000 + i * 7 + rng.randrange(7)}",
                name=f"{rng.choice(_VOCAB).upper()} FAMILY SERVICES {i}",
                agency_type=AGENCY_TYPES[rng.randrange(len(AGENCY_TYPES))],
                county=COUNTIES[rng.randrange(len(COUNTIES))],
                status=STATUSES[rng.randrange(len(STATUSES))],
                # one agency in ten is missing from the facilities table,
                # so the dashboard's 'Unknown' null bucket is exercised
                listed=(i % 10) != 9,
            )
        )
    return out


def _body(rng: random.Random, n_words: int) -> str:
    words = []
    for _ in range(n_words):
        words.append(rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(_VOCAB))
    return " ".join(words)


def make_doc(rng: random.Random, doc_id: int, agencies: list[Agency], body_words: int) -> Doc:
    agency = agencies[rng.randrange(len(agencies))]
    is_sir = rng.random() < 0.5
    year = 2019 + rng.randrange(6)
    month = 1 + rng.randrange(12)
    day = 1 + rng.randrange(28)
    date_text = f"{month}/{day}/{year}"
    if is_sir:
        inv = f"{year}C{rng.randrange(10**7):07d}"
        header = [
            "SPECIAL INVESTIGATION REPORT",
            f"License #: {agency.license}",
            f"Agency Name: {agency.name}",
            f"Investigation #: {inv}",
            f"Special Investigation Intake Date: {date_text}",
        ]
        title = f"Special Investigation Report #{inv}"
    else:
        line = sorted(_NON_SIR_TITLES)[rng.randrange(len(_NON_SIR_TITLES))]
        header = [
            line,
            f"License #: {agency.license}",
            f"Agency Name: {agency.name}",
            f"Date(s) of On-site Inspection: {date_text}",
        ]
        title = _NON_SIR_TITLES[line]
    half = body_words // 2
    pages = ("\n".join(header), _body(rng, half), _body(rng, body_words - half))
    return Doc(
        doc_id=doc_id,
        pages=pages,
        agency=agency,
        is_sir=is_sir,
        date_iso=f"{year:04d}-{month:02d}-{day:02d}",
        title=title,
        lang=LANGS[rng.randrange(len(LANGS))],
        family=doc_id,
        dateprocessed=f"2025-{1 + doc_id % 12:02d}-{1 + doc_id % 28:02d} 08:00:00",
    )


def exact_duplicate(src: Doc, doc_id: int) -> Doc:
    return Doc(
        doc_id=doc_id, pages=src.pages, agency=src.agency, is_sir=src.is_sir,
        date_iso=src.date_iso, title=src.title, lang=src.lang,
        family=src.family, dateprocessed=src.dateprocessed,
    )


def near_duplicate(rng: random.Random, src: Doc, doc_id: int) -> Doc:
    pages = src.pages[:-1] + (src.pages[-1] + " " + rng.choice(_VOCAB),)
    return Doc(
        doc_id=doc_id, pages=pages, agency=src.agency, is_sir=src.is_sir,
        date_iso=src.date_iso, title=src.title, lang=src.lang,
        family=src.family, dateprocessed=src.dateprocessed,
    )


def _kinds(rng: random.Random, n: int, rates: dict[str, float]) -> list[str]:
    """A shuffled list of exactly ``round(n * rate)`` entries of each
    planted kind, the rest ``"new"``: every batch of one size has the same
    mix, whatever the seed."""
    kinds = [k for k, r in rates.items() for _ in range(round(n * r))]
    kinds += ["new"] * (n - len(kinds))
    rng.shuffle(kinds)
    return kinds


def make_corpus(rng: random.Random, agencies: list[Agency], n: int, first_id: int,
                body_words: int, near_dup_rate: float = 0.0) -> list[Doc]:
    """``n`` documents with distinct texts; ``near_dup_rate`` of them are
    near-duplicates of an earlier document of the same corpus."""
    kinds = _kinds(rng, n, {"near": near_dup_rate})
    if kinds and kinds[0] != "new":  # the first document has nothing to copy
        j = kinds.index("new")
        kinds[0], kinds[j] = kinds[j], kinds[0]
    docs: list[Doc] = []
    originals: list[Doc] = []
    for i, kind in enumerate(kinds):
        doc_id = first_id + i
        if kind == "near":
            docs.append(near_duplicate(rng, rng.choice(originals), doc_id))
        else:
            d = make_doc(rng, doc_id, agencies, body_words)
            docs.append(d)
            originals.append(d)
    return docs


def make_night(rng: random.Random, agencies: list[Agency], prior: list[Doc], n: int,
               first_id: int, body_words: int, exact_rate: float,
               near_rate: float) -> list[Doc]:
    """One night's landing batch: ``exact_rate`` of it repeats a prior
    document verbatim, ``near_rate`` near-duplicates a prior original,
    and the rest are new documents."""
    originals = [d for d in prior if d.family == d.doc_id]
    night: list[Doc] = []
    kinds = _kinds(rng, n, {"exact": exact_rate, "near": near_rate})
    for i, kind in enumerate(kinds):
        doc_id = first_id + i
        if kind == "exact":
            night.append(exact_duplicate(rng.choice(originals), doc_id))
        elif kind == "near":
            night.append(near_duplicate(rng, rng.choice(originals), doc_id))
        else:
            night.append(make_doc(rng, doc_id, agencies, body_words))
    return night


# ---------------------------------------------------------------------------
# Enrichment tables (the reference's CSV-shaped inputs: every cell a string)


def enrichment(rng: random.Random, docs: list[Doc]) -> dict[str, list[dict]]:
    """sir_summaries / violation_levels / staffing rows for ``docs``:
    every SIR gets a summary and a violation level with 0-3 keywords;
    about 60% of all documents get a staffing row."""
    summaries, levels, staffing = [], [], []
    for d in docs:
        if d.is_sir:
            summaries.append({
                "sha256": d.sha256,
                "response": f"summary of {d.title}",
                "violation": "Yes" if rng.random() < 0.6 else "No",
            })
            kws = [KEYWORDS[rng.randrange(len(KEYWORDS))] for _ in range(rng.randrange(4))]
            levels.append({
                "sha256": d.sha256,
                "level": LEVELS[rng.randrange(len(LEVELS))],
                "justification": "rule violation established",
                "keywords": json.dumps(kws),
            })
        if rng.random() < 0.6:
            staffing.append({
                "sha256": d.sha256,
                "staffing_problem": "True" if rng.random() < 0.4 else "False",
                "confidence": CONFIDENCES[rng.randrange(len(CONFIDENCES))],
                "primary_reason": "shift coverage gap",
                "evidence_staffing_cited": "true" if rng.random() < 0.5 else "false",
                "evidence_keywords_found": json.dumps(["understaffed"]),
                "evidence_explanation": "cited in the report",
            })
    return {"sir_summaries": summaries, "violation_levels": levels, "staffing": staffing}


def facilities(agencies: list[Agency]) -> list[dict]:
    return [
        {
            "LicenseNumber": a.license,
            "AgencyName": a.name,
            "AgencyType": a.agency_type,
            "City": f"{a.county} City",
            "County": a.county,
            "LicenseStatus": a.status,
        }
        for a in agencies
        if a.listed
    ]


def keyword_map_rows() -> list[dict]:
    return [{"original_keyword": o, "reduced_keyword": r} for o, r in KEYWORD_MAP]


# ---------------------------------------------------------------------------
# Files


def write_parquet(rows: list[dict], schema, path: str) -> None:
    """Deterministic parquet file (no timestamps in the footer), so the
    same rows always give the same bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, path, compression="zstd")


def raw_doc_rows(docs: list[Doc]) -> list[dict]:
    """The extracted-text parquet shape: (sha256, text: pages, dateprocessed)."""
    return [
        {"sha256": d.sha256, "text": list(d.pages), "dateprocessed": d.dateprocessed}
        for d in docs
    ]


def schemas():
    import pyarrow as pa

    s = pa.string()
    return {
        "raw": pa.schema([("sha256", s), ("text", pa.list_(s)), ("dateprocessed", s)]),
        "fold": pa.schema([("doc_id", pa.int64()), ("lang", s), ("text", s)]),
        "sir_summaries": pa.schema([("sha256", s), ("response", s), ("violation", s)]),
        "violation_levels": pa.schema(
            [("sha256", s), ("level", s), ("justification", s), ("keywords", s)]
        ),
        "staffing": pa.schema(
            [("sha256", s), ("staffing_problem", s), ("confidence", s),
             ("primary_reason", s), ("evidence_staffing_cited", s),
             ("evidence_keywords_found", s), ("evidence_explanation", s)]
        ),
        "facilities": pa.schema(
            [("LicenseNumber", s), ("AgencyName", s), ("AgencyType", s),
             ("City", s), ("County", s), ("LicenseStatus", s)]
        ),
        "keyword_map": pa.schema([("original_keyword", s), ("reduced_keyword", s)]),
    }


def fold_rows(docs: list[Doc]) -> list[dict]:
    return [{"doc_id": d.doc_id, "lang": d.lang, "text": d.text} for d in docs]
