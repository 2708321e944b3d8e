"""Expected answers, computed before the timed operations.

Dashboard answers come from the generator's planted facts through a
plain-Python rendering of each query. Fold answers replay the fold's
documented semantics over the generated texts (exact screen against
prior owners, near-duplicate families as clusters) and, for the release
datasheet, run the package's own DuckDB oracle for the e17 release plan
over the same generated documents.

Results are compared as fingerprints: the sha256 of a canonical JSON
rendering of the rows, so a mismatch in any row, value or order fails
the operation.
"""

from __future__ import annotations

import hashlib
import json
import re

from gen import KEYWORD_MAP, Doc


def fingerprint(rows) -> str:
    return hashlib.sha256(
        json.dumps(rows, sort_keys=True, separators=(",", ":"), default=str).encode()
    ).hexdigest()


# ---------------------------------------------------------------------------
# Dashboard: the flat table as the website plan should build it


def reduce_keywords(kws: list[str]) -> list[str]:
    mapping = dict(KEYWORD_MAP)
    out: list[str] = []
    for k in kws:
        r = mapping.get(k, k)
        if r and r not in out:
            out.append(r)
    return out


def flat_rows(docs: list[Doc], enrich: dict[str, list[dict]]) -> list[dict]:
    levels = {r["sha256"]: r for r in enrich["violation_levels"]}
    staffing = {r["sha256"]: r for r in enrich["staffing"]}
    rows = []
    for d in docs:
        lv = levels.get(d.sha256)
        st = staffing.get(d.sha256)
        a = d.agency
        rows.append({
            "sha256": d.sha256,
            "agency_id": a.license,
            "agency_name": a.name,
            "document_title": d.title,
            "is_special_investigation": d.is_sir,
            "date_iso": d.date_iso,
            "level": lv["level"] if lv else None,
            "keywords": reduce_keywords(json.loads(lv["keywords"])) if lv else None,
            "staffing_problem": (st["staffing_problem"].lower() == "true") if st else None,
            "confidence": st["confidence"] if st else None,
            "County": a.county if a.listed else None,
            "AgencyType": a.agency_type if a.listed else None,
            "LicenseStatus": a.status if a.listed else None,
        })
    return rows


def apply_filter(rows: list[dict], p: dict) -> list[dict]:
    """``plans.website.interactive_filter`` over plain rows (NULL never
    passes a predicate)."""
    out = []
    for r in rows:
        if p.get("license_statuses") and r["LicenseStatus"] not in p["license_statuses"]:
            continue
        if p.get("agency_type") and r["AgencyType"] != p["agency_type"]:
            continue
        if p.get("county") and r["County"] != p["county"]:
            continue
        if p.get("sir_only"):
            if not r["is_special_investigation"]:
                continue
            if p.get("severity") and r["level"] not in p["severity"]:
                continue
        if p.get("staffing_filter"):
            problem, confidence = p["staffing_filter"].split("_", 1)
            if r["staffing_problem"] is None or r["staffing_problem"] != (problem == "yes"):
                continue
            if r["confidence"] != confidence:
                continue
        if p.get("keywords_any"):
            want = {k.lower() for k in p["keywords_any"]}
            if not r["keywords"] or not want & {k.lower() for k in r["keywords"]}:
                continue
        out.append(r)
    return out


def agency_list(rows: list[dict]) -> list:
    groups: dict[str, list[dict]] = {}
    for r in rows:
        groups.setdefault(r["agency_id"], []).append(r)
    out = []
    for aid, g in groups.items():
        docs = sorted(
            ([r["date_iso"], r["sha256"], r["document_title"]] for r in g), reverse=True
        )
        out.append([aid, len(g), max(r["agency_name"] for r in g), docs])
    out.sort(key=lambda x: (x[2], x[0]))
    return out


def group_count(rows: list[dict], col: str) -> list:
    counts: dict[str, int] = {}
    for r in rows:
        v = r[col] if r[col] is not None else "Unknown"
        counts[v] = counts.get(v, 0) + 1
    return sorted(([k, c] for k, c in counts.items()), key=lambda x: (-x[1], x[0]))


def keyword_counts(rows: list[dict]) -> list:
    counts: dict[str, int] = {}
    for r in rows:
        for k in set(r["keywords"] or []):
            counts[k] = counts.get(k, 0) + 1
    return sorted(([k, c] for k, c in counts.items()), key=lambda x: (-x[1], x[0]))


def prefix_search(phrase_counts: list, prefix: str, k: int) -> list:
    hits = []
    q = prefix.lower()
    for phrase, count in phrase_counts:
        p = phrase.strip().lower()
        terms = {p} | set(re.split(r"\s+", p))
        if any(t != "" and t.startswith(q) for t in terms):
            hits.append([phrase, count])
    hits.sort(key=lambda x: (-x[1], x[0]))
    return hits[:k]


DOC_PAGE_COLUMNS = [
    "sha256", "agency_id", "agency_name", "document_title",
    "is_special_investigation", "date_iso", "level", "keywords",
    "County", "LicenseStatus",
]


def doc_page(rows_by_sha: dict[str, dict], sha: str) -> list:
    r = rows_by_sha[sha]
    return [[r[c] for c in DOC_PAGE_COLUMNS]]


def expected_answer(q: dict, rows: list[dict], rows_by_sha: dict, phrase_counts: list) -> list:
    kind = q["kind"]
    if kind == "agency_list":
        return agency_list(apply_filter(rows, q["filter"]))
    if kind == "bar_chart":
        return group_count(apply_filter(rows, q["filter"]), q["column"])
    if kind == "keywords_top":
        return keyword_counts(apply_filter(rows, q["filter"]))[: q["k"]]
    if kind == "autocomplete":
        return prefix_search(phrase_counts, q["prefix"], q["k"])
    if kind == "doc_page":
        return doc_page(rows_by_sha, q["sha256"])
    raise ValueError(kind)


# ---------------------------------------------------------------------------
# Nightly fold


class FoldModel:
    """Replays the dedup fold's contract over generated documents:

    * a night's document is dropped when its exact text is already owned
      by a document outside the night;
    * every surviving document is clustered with its near-duplicate
      family, whose root (the smallest id) is the family's original.
    """

    def __init__(self):
        self.owner: dict[str, int] = {}  # content sha -> smallest doc_id
        self.cluster: dict[int, int] = {}  # surviving doc_id -> cluster_id
        self.docs: list[Doc] = []

    def fold(self, night: list[Doc]) -> dict:
        ids = {d.doc_id for d in night}
        dropped = 0
        for d in night:
            o = self.owner.get(d.sha256)
            if o is not None and o not in ids:
                dropped += 1
            else:
                self.cluster[d.doc_id] = d.family
        for d in night:
            if d.sha256 not in self.owner:
                self.owner[d.sha256] = min(
                    x.doc_id for x in night if x.sha256 == d.sha256
                )
        self.docs.extend(night)
        return {
            "ingested": len(night) - dropped,
            "dropped_exact": dropped,
            "clusters": len(set(self.cluster.values())),
            "cluster_map": fingerprint(sorted(self.cluster.items())),
            "digests": len(self.owner),
        }


def release_datasheet(docs: list[Doc], duckdb_sql: str) -> list:
    """The e17 DuckDB oracle over ``docs`` as its ``documents`` table."""
    import duckdb
    import pyarrow as pa

    table = pa.table({
        "doc_id": [d.doc_id for d in docs],
        "lang": [d.lang for d in docs],
        "text": [d.text for d in docs],
    })
    con = duckdb.connect()
    try:
        con.register("documents", table)
        rows = con.execute(duckdb_sql).fetchall()
    finally:
        con.close()
    return [[s, l, int(n), int(t), round(float(q), 6)] for s, l, n, t, q in rows]


def datasheet_matches(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g[:4] != w[:4] or abs(g[4] - w[4]) > 2e-6:
            return False
    return True
