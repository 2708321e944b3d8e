"""E3 — website build: 5-way join → flat query table → nested agency
aggregate (reference ``website/generate_website_data.py:260-372``).

Design (SURVEY §3 E3 / §7 risk "group-then-filter vs filter-then-group"):
the browser filters inside already-nested per-agency arrays; we compute
on the FLAT joined table (filters are plain predicates Catalyst pushes
into the scans) and nest LAST. Same results, and the interactive filter
set (P6–P12) becomes parameterized queries over one table instead of a
client-side array walk.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mcyj_datapipeline_spark.functions.dates import parse_date_multi
from mcyj_datapipeline_spark.functions.textfn import (
    keywords_from_json,
    parse_bool_string,
)
from mcyj_datapipeline_spark.operators.aggregates import (
    reduce_keywords,
    sort_on_one_partition,
)

# helpers.js:98 — statuses considered "active" by the dashboard.
ACTIVE_LICENSE_STATUSES = [
    "Regular",
    "Original",
    "1st Provisional",
    "2nd Provisional",
    "Inspected",
]


def build_flat_table(
    document_info: DataFrame,
    sir_summaries: DataFrame,
    violation_levels: DataFrame,
    staffing: DataFrame,
    facilities: DataFrame,
    keyword_map: DataFrame | None = None,
) -> DataFrame:
    """J1–J4 enrichment joins + F8 date normalization + F12 keyword
    reduction + F17/F18 CSV-boundary casts → one flat document table.

    Join-strategy note (100 TB): ``sir_summaries`` / ``violation_levels``
    / ``staffing`` are keyed one-row-per-document — they GROW with the
    fact side, so they get NO broadcast hint; Catalyst/AQE picks
    broadcast at reference scale (each ≤ a few MB) and switches to
    sort-merge/shuffled-hash when the tables outgrow
    ``autoBroadcastJoinThreshold``. ``facilities`` is a genuinely
    fixed-cardinality dim (one row per licensed agency, ~constant as
    documents accumulate) and keeps an explicit hint."""
    levels = violation_levels.withColumn(
        "keywords", keywords_from_json(F.col("keywords"))
    )
    if keyword_map is not None:
        levels = reduce_keywords(levels, keyword_map, "keywords", ["sha256"])

    staffing_typed = staffing.select(
        "sha256",
        parse_bool_string(F.col("staffing_problem")).alias("staffing_problem"),
        "confidence",
        "primary_reason",
    )

    # CSV boundary: document_info serializes the F6 boolean as
    # 'True'/'False' text; normalize exactly like the reference does at
    # generate_website_data.py:199 (lower in true/1/yes). An empty CSV
    # field reads as NULL in Spark but `''.lower() in (...)` yields a
    # concrete False in the reference — coalesce to False so both sides
    # carry the same default. Inputs that already hold a real boolean
    # (the parquet path) pass through.
    if dict(document_info.dtypes).get("is_special_investigation") == "string":
        document_info = document_info.withColumn(
            "is_special_investigation",
            F.coalesce(
                parse_bool_string(F.col("is_special_investigation")),
                F.lit(False),
            ),
        )

    flat = (
        document_info.join(
            sir_summaries.select(
                "sha256",
                F.col("response").alias("summary"),
                F.col("violation"),
            ),
            "sha256",
            "left",
        )
        .join(
            levels.select("sha256", "level", "justification", "keywords"),
            "sha256",
            "left",
        )
        .join(staffing_typed, "sha256", "left")
        .withColumn("date_iso", parse_date_multi(F.col("date")))
    )
    fac = facilities.withColumnRenamed("LicenseNumber", "agency_id")
    return flat.join(F.broadcast(fac), "agency_id", "left")


def interactive_filter(
    flat: DataFrame,
    license_statuses: list[str] | None = None,
    agency_type: str | None = None,
    county: str | None = None,
    last_n_months: int | None = None,
    sir_only: bool = False,
    severity: list[str] | None = None,
    staffing_filter: str | None = None,
    keywords_any: list[str] | None = None,
) -> DataFrame:
    """The dashboard filter chain P6–P12 (reference App.jsx:218-348) as
    one conjunctive predicate — every clause is sargable and pushed to
    the scan by Catalyst. The clauses are ANDed into one ``Column`` and
    applied with a single ``filter``: each ``filter`` call builds a new
    Dataset and runs an eager analysis, and Catalyst's CombineFilters
    would merge chained calls into an equivalent predicate anyway."""
    clauses: list[Column] = []
    if license_statuses:
        clauses.append(F.col("LicenseStatus").isin(license_statuses))  # P6
    if agency_type:
        clauses.append(F.col("AgencyType") == agency_type)  # P7
    if county:
        clauses.append(F.col("County") == county)  # P7
    if last_n_months is not None:  # P8
        clauses.append(
            F.col("date_iso") >= F.add_months(F.current_date(), -last_n_months)
        )
    if sir_only:
        clauses.append(F.col("is_special_investigation"))  # P2
        if severity:
            clauses.append(F.col("level").isin(severity))  # P9
    if staffing_filter:  # P10: "yes_high" → problem + confidence
        problem, confidence = staffing_filter.split("_", 1)
        clauses.append(
            (F.col("staffing_problem") == (problem == "yes"))
            & (F.col("confidence") == confidence)
        )
    if keywords_any:  # P11: case-insensitive array overlap
        clauses.append(
            F.arrays_overlap(
                F.transform(F.col("keywords"), F.lower),
                F.array(*[F.lit(k.lower()) for k in keywords_any]),
            )
        )
    if not clauses:
        return flat
    return flat.filter(functools.reduce(operator.and_, clauses))


def nest_agencies(flat: DataFrame, doc_cols: list[str]) -> DataFrame:
    """A1/W2/P12: nest surviving docs per agency (newest first), count,
    drop agencies with no surviving docs (group-then-filter equivalence
    — we filter first, so empty groups simply don't exist)."""
    struct_col = F.struct(F.col("date_iso"), *[F.col(c) for c in doc_cols])
    nested = flat.groupBy("agency_id").agg(
        F.reverse(F.sort_array(F.collect_list(struct_col))).alias("documents"),
        F.count(F.lit(1)).alias("total_reports"),
        F.max("agency_name").alias("agency_name"),
    )
    return sort_on_one_partition(nested, "agency_name", "agency_id")
