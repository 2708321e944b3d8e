"""Dashboard dimension aggregates finish on one partition.

``operators.aggregates.sort_on_one_partition`` replaces the global
``orderBy`` (a range exchange: sampling job + sort shuffle + result job
under AQE) with ``coalesce(1).orderBy`` for aggregates keyed by a
dashboard dimension. These tests pin the shape (no range exchange, at
most two jobs from a multi-partition input) and the answer (rows and
order equal a plain-Python computation, ties included), plus the
single-predicate ``interactive_filter``."""

from __future__ import annotations

import datetime as dt
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mcyj_datapipeline_spark.operators import aggregates as A
from mcyj_datapipeline_spark.plans import website as W

PARTS = 4

# Ties on purpose: 'Kent' and 'Wayne' share a count, as do 'Ionia' and
# the null county (-> 'Unknown'); agencies A2 and A3 share a name.
COUNTIES = ["Kent", "Kent", "Kent", "Wayne", "Wayne", "Wayne", "Ionia", None,
            "Ottawa", "Ottawa"]
AGENCIES = {"A1": "Beta Homes", "A2": "Alpha Care", "A3": "Alpha Care", "A4": "Zeta"}


def _rows():
    out = []
    ids = sorted(AGENCIES)
    for i in range(40):
        agency = ids[i % len(ids)]
        out.append((
            f"sha{i:03d}",
            agency,
            AGENCIES[agency],
            COUNTIES[i % len(COUNTIES)],
            dt.date(2024, 1 + i % 12, 1 + i % 27),
            f"title {i % 7}",
        ))
    return out


SCHEMA = T.StructType([
    T.StructField("sha256", T.StringType()),
    T.StructField("agency_id", T.StringType()),
    T.StructField("agency_name", T.StringType()),
    T.StructField("County", T.StringType()),
    T.StructField("date_iso", T.DateType()),
    T.StructField("document_title", T.StringType()),
])


@pytest.fixture(scope="module")
def docs(spark):
    # parallelize keeps PARTS partitions without a shuffle of its own
    df = spark.createDataFrame(spark.sparkContext.parallelize(_rows(), PARTS), SCHEMA)
    assert df.rdd.getNumPartitions() == PARTS
    return df


def _expected(name):
    rows = _rows()
    if name == "group_count_sorted":
        c = Counter(r[3] if r[3] is not None else "Unknown" for r in rows)
        return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    if name == "distinct_sorted":
        return [(v,) for v in sorted({r[3] for r in rows if r[3] is not None})]
    if name == "value_distribution":
        c = Counter(r[3] for r in rows)
        # Spark's ascending order puts the null group first
        return sorted(c.items(), key=lambda kv: (kv[0] is not None, kv[0] or ""))
    per = defaultdict(list)
    for r in rows:
        per[r[1]].append(r)
    out = []
    for agency, rs in per.items():
        docs = sorted(((r[4], r[0], r[5]) for r in rs), reverse=True)
        out.append((agency, docs, len(rs), max(r[2] for r in rs)))
    return sorted(out, key=lambda a: (a[3], a[0]))


def _build(name, docs):
    if name == "group_count_sorted":
        return A.group_count_sorted(docs, "County")
    if name == "distinct_sorted":
        return A.distinct_sorted(docs, "County")
    if name == "value_distribution":
        return A.value_distribution(docs, "County")
    return W.nest_agencies(docs, ["sha256", "document_title"])


def _plain(name, rows):
    if name == "nest_agencies":
        return [
            (r["agency_id"], [tuple(d) for d in r["documents"]], r["total_reports"],
             r["agency_name"])
            for r in rows
        ]
    return [tuple(r) for r in rows]


def _collect_counting_jobs(spark, df, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setJobGroup("", "")
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


OPERATORS = ["group_count_sorted", "distinct_sorted", "value_distribution",
             "nest_agencies"]


@pytest.mark.parametrize("name", OPERATORS)
def test_dimension_aggregate_sorts_without_range_exchange(spark, docs, name):
    df = _build(name, docs)
    rows, jobs = _collect_counting_jobs(spark, df, f"one-partition-{name}")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan
    assert jobs <= 2, f"{name} ran {jobs} jobs"
    assert _plain(name, rows) == _expected(name)


def test_high_cardinality_operators_keep_the_range_exchange(spark, docs):
    """explode_count and duplicate_keys group by unbounded keys and must
    not finish on one task."""
    words = docs.select(F.split(F.col("document_title"), " ").alias("w"))
    for df in (A.explode_count(words, F.col("w")), A.duplicate_keys(docs, "County")):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" in plan, plan


FLAT_SCHEMA = T.StructType([
    T.StructField("LicenseStatus", T.StringType()),
    T.StructField("AgencyType", T.StringType()),
    T.StructField("County", T.StringType()),
    T.StructField("date_iso", T.DateType()),
    T.StructField("is_special_investigation", T.BooleanType()),
    T.StructField("level", T.StringType()),
    T.StructField("staffing_problem", T.BooleanType()),
    T.StructField("confidence", T.StringType()),
    T.StructField("keywords", T.ArrayType(T.StringType())),
])


def _chained_filter(flat, f):
    """The same clauses applied with one ``filter`` call each."""
    df = flat.filter(F.col("LicenseStatus").isin(f["license_statuses"]))
    df = df.filter(F.col("AgencyType") == f["agency_type"])
    df = df.filter(F.col("County") == f["county"])
    df = df.filter(
        F.col("date_iso") >= F.add_months(F.current_date(), -f["last_n_months"])
    )
    df = df.filter(F.col("is_special_investigation"))
    df = df.filter(F.col("level").isin(f["severity"]))
    problem, confidence = f["staffing_filter"].split("_", 1)
    df = df.filter(
        (F.col("staffing_problem") == (problem == "yes"))
        & (F.col("confidence") == confidence)
    )
    return df.filter(
        F.arrays_overlap(
            F.transform(F.col("keywords"), F.lower),
            F.array(*[F.lit(k.lower()) for k in f["keywords_any"]]),
        )
    )


def _canonical_optimized_plan(df):
    """The optimized plan in Spark's canonical form (the one
    ``sameResult`` compares): expression ids normalized and the operands
    of commutative operators such as AND put in a fixed order. CombineFilters
    merges chained calls into an AND tree that is associated differently
    from the left fold over the clauses, so only this form is comparable."""
    return df._jdf.queryExecution().optimizedPlan().canonicalized()


def test_interactive_filter_one_predicate_same_plan_as_chain(spark):
    today = dt.date.today()
    flat = spark.createDataFrame(
        [
            ("Regular", "Child Caring", "Kent", today, True, "severe", True, "high",
             ["Neglect", "injury"]),
            ("Regular", "Child Caring", "Kent", today, True, "low", True, "high",
             ["neglect"]),
            ("Closed", "Child Caring", "Kent", today, True, "severe", True, "high",
             ["neglect"]),
        ],
        FLAT_SCHEMA,
    )
    f = {
        "license_statuses": ["Regular", "Original"],
        "agency_type": "Child Caring",
        "county": "Kent",
        "last_n_months": 6,
        "sir_only": True,
        "severity": ["severe"],
        "staffing_filter": "yes_high",
        "keywords_any": ["NEGLECT"],
    }
    single = W.interactive_filter(flat, **f)
    chained = _chained_filter(flat, f)
    # one Filter node in the logical plan as built, not one per clause
    assert single._jdf.queryExecution().logical().toString().count("Filter") == 1
    one, chain = _canonical_optimized_plan(single), _canonical_optimized_plan(chained)
    # fresh lambda-variable names (x_12 vs x_13) differ per build
    assert re.sub(r"x_\d+", "x", one.toString()) == re.sub(r"x_\d+", "x", chain.toString())
    assert one.toString().count("Filter") == 1
    assert single.count() == chained.count() == 1


def test_interactive_filter_without_clauses_is_identity(spark, docs):
    assert W.interactive_filter(docs) is docs
