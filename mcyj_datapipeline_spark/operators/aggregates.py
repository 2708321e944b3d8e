"""Aggregations (SURVEY §2.4 A1–A12) and the keyword layer (F12, A5, X1).

The reference aggregates with ``defaultdict`` accumulation in a single
process; here every aggregate is a ``groupBy`` that Spark executes with
map-side partial aggregation (HashAggregate partial → shuffle by group
key → final), so the shuffle carries only the partial states — the
pattern that holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sort_on_one_partition(agg: DataFrame, *order) -> DataFrame:
    """Finish a small aggregate's global sort in one task.

    ``agg.orderBy(...)`` over an aggregate plans a range exchange, which
    AQE runs as three jobs (a sampling job for the range bounds, the
    sort shuffle, the result) on top of the aggregate's own map job.
    ``coalesce(1)`` is narrow: the aggregate's final stage runs in one
    task, the sort needs no exchange, and the query runs in two jobs.

    Use it only where the aggregate is keyed by a declared dashboard
    dimension (county, agency, status, event type: tens to thousands of
    rows at any input size). Never use it for high-cardinality keys
    (raw words, part keys, phrases, document ids): their result grows
    with the input, and one task would then hold all of it. Those keep
    a plain ``orderBy`` (``explode_count``, ``duplicate_keys``,
    ``prefix_search``).

    For ``plans.website.nest_agencies`` the single task also runs the
    final ``collect_list`` merge, so it carries the filtered document
    list. The caller collects that list or writes it as one
    ``agencies_data.json`` anyway, so it ends in one place either way."""
    return agg.coalesce(1).orderBy(*order)


def nest_documents_per_agency(
    docs: DataFrame,
    key: str = "agency_id",
    name_col: str = "agency_name",
    order_col: str = "date_iso",
    doc_cols: list[str] | None = None,
) -> DataFrame:
    """A1 + W2 (reference generate_website_data.py:164-221,305-323):
    group documents under their agency; per group keep the doc structs
    (newest-first, via sort_array on a desc-ordered struct key), a
    ``total_reports`` count, and the LAST-SEEN agency name — max_by on
    ``order_col``, not max of the name (lexicographic max would return
    a stale 'Zeta Dept' over a newer 'Alpha Dept' rename). The max_by
    ordering key appends the name after the string-cast order column so
    same-instant ties break deterministically; dates/ISO timestamps
    cast to chronologically-sortable strings (the supported contract —
    a numeric order_col would need zero-padding)."""
    cols = doc_cols or [c for c in docs.columns if c != key]
    struct_col = F.struct(F.col(order_col), *[F.col(c) for c in cols if c != order_col])
    last_seen = F.expr(
        f"max_by({name_col}, concat(cast({order_col} as string), '|', {name_col}))"
    )
    return docs.groupBy(key).agg(
        F.reverse(F.sort_array(F.collect_list(struct_col))).alias("documents"),
        F.count(F.lit(1)).alias("total_reports"),
        last_seen.alias(name_col),
    )


def group_count_sorted(
    df: DataFrame, group_col: str, null_label: str = "Unknown"
) -> DataFrame:
    """A3 (reference FacilitiesPage.jsx:41-60): count per group value,
    descending, null key → 'Unknown'."""
    g = F.coalesce(F.col(group_col), F.lit(null_label)).alias(group_col)
    counts = df.select(g).groupBy(group_col).agg(F.count(F.lit(1)).alias("count"))
    return sort_on_one_partition(counts, F.desc("count"), F.col(group_col))


def distinct_sorted(df: DataFrame, col: str) -> DataFrame:
    """A6 (reference App.jsx:133-149): dropdown domain."""
    domain = df.select(col).where(F.col(col).isNotNull()).distinct()
    return sort_on_one_partition(domain, col)


def duplicate_keys(df: DataFrame, key: str) -> DataFrame:
    """A7 (reference check_unique_hashes.py:46-77): keys appearing more
    than once, with counts."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") > 1)
        .orderBy(F.desc("count"), F.col(key))
    )


def uniqueness_report(df: DataFrame, key: str) -> DataFrame:
    """A7 summary: total vs distinct (the CI invariant check)."""
    return df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.countDistinct(key).alias("distinct_keys"),
    )


def explode_count(
    df: DataFrame,
    array_col: Column,
    out_name: str = "keyword",
    per_row_distinct: bool = True,
) -> DataFrame:
    """A5 (reference trie.js:36-39 keywordCounts): element → number of
    rows containing it. ``per_row_distinct`` reproduces the reference's
    per-doc dedup (a keyword twice in one doc counts once)."""
    arr = F.array_distinct(array_col) if per_row_distinct else array_col
    return (
        df.select(F.explode(arr).alias(out_name))
        .groupBy(out_name)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.col(out_name))
    )


def value_distribution(df: DataFrame, col: str) -> DataFrame:
    """A9 (reference update_violation_levels.py:529-533)."""
    counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("count"))
    return sort_on_one_partition(counts, col)


def pre_post_filter_counts(
    df: DataFrame, key: str, predicate: Column
) -> DataFrame:
    """A11 (reference App.jsx:275,322-328): per-group original count,
    surviving count, and filtered_out count — one aggregation pass using
    conditional counts instead of two jobs + join."""
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("original_total_reports"),
        F.sum(F.when(predicate, 1).otherwise(0)).alias("surviving_reports"),
        F.sum(F.when(predicate, 0).otherwise(1)).alias("filtered_out_count"),
    )


# ---------------------------------------------------------------------------
# Keyword reduction (F12) + inverted index (X1)
# ---------------------------------------------------------------------------


def reduce_keywords(
    docs: DataFrame,
    mapping: DataFrame,
    keywords_col: str = "keywords",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """F12 (reference website/keyword_reduction.py:14-77): map each
    keyword through the curation table (identity when unmapped, drop when
    mapped to ''), dedup preserving first-occurrence order.

    Plan: posexplode → broadcast join on the 1.6k-row mapping →
    re-collect ordered by original position → array_distinct (which
    preserves first-occurrence order, matching the reference's seen-set
    loop). The mapping is always broadcast; the doc side never shuffles
    beyond the final per-key collect."""
    keys = key_cols or ["sha256"]
    # CSV-boundary semantics (caught by the real-data golden test): a
    # discard row is written as `keyword,,freq`, which Spark's CSV
    # reader surfaces as NULL — not '' — so a matched-but-null
    # reduction must mean DISCARD, never "unmapped". The reference
    # loader also strips both map columns and skips empty originals
    # (keyword_reduction.py:31-40); same here.
    m = F.broadcast(
        mapping.select(
            F.trim(F.col("original_keyword")).alias("_orig"),
            F.coalesce(F.trim(F.col("reduced_keyword")), F.lit("")).alias(
                "_red"
            ),
        ).filter(F.col("_orig").isNotNull() & (F.col("_orig") != ""))
    )
    exploded = docs.select(
        *keys, F.posexplode_outer(F.col(keywords_col)).alias("_pos", "_kw")
    )
    mapped = (
        exploded.join(m, exploded["_kw"] == m["_orig"], "left")
        .withColumn(
            "_out",
            F.when(F.col("_orig").isNotNull(), F.col("_red")).otherwise(
                F.col("_kw")
            ),
        )
        .filter(F.col("_out").isNotNull() & (F.col("_out") != ""))
    )
    recollected = mapped.groupBy(*keys).agg(
        F.array_distinct(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_out"))),
                lambda s: s["_out"],
            )
        ).alias(keywords_col)
    )
    return docs.drop(keywords_col).join(recollected, on=keys, how="left").withColumn(
        keywords_col,
        F.coalesce(F.col(keywords_col), F.array().cast("array<string>")),
    )


def build_inverted_index(
    df: DataFrame, phrase_col: str, weight_col: str = "count"
) -> DataFrame:
    """X1 (reference website/src/trie.js:13-41): term → phrase index.
    Each phrase is indexed under itself and under each of its words;
    prefix search becomes a ``startswith`` filter over this table."""
    words = df.select(
        F.col(phrase_col).alias("phrase"),
        F.col(weight_col).alias("weight"),
        F.explode(
            F.array_union(
                # trim BOTH branches: an untrimmed full-phrase term
                # (' water quality') would never match a trimmed query
                F.array(F.lower(F.trim(F.col(phrase_col)))),
                F.split(F.lower(F.trim(F.col(phrase_col))), r"\s+"),
            )
        ).alias("term"),
    )
    return words.filter(F.col("term") != "")


def prefix_search(
    index: DataFrame, query: str, k: int = 10
) -> DataFrame:
    """X1 query side (reference trie.js:43-87): prefix-match terms,
    rank distinct phrases by weight desc, limit k."""
    return (
        index.filter(F.col("term").startswith(query.lower()))
        .groupBy("phrase")
        .agg(F.max("weight").alias("count"))
        .orderBy(F.desc("count"), F.col("phrase"))
        .limit(k)
    )


def exact_median_two_pass(
    df: DataFrame, col: str, buckets: int = 1024,
    max_fetch: int = 1_000_000, max_rounds: int = 6,
) -> DataFrame:
    """EXACT median without a global sort: the scale path when
    ``percentile_approx``'s error bound is not acceptable but sorting
    the column is not either.

    Each round histograms the candidate range into ``buckets``
    equal-width bins (one map-side-combined groupBy; the collected
    histogram is ``buckets`` rows — bounded driver traffic, like the
    k-means centroid and stratified-count collects). The running bin
    counts locate which bin(s) hold the middle ranks. When those
    candidate bins hold ≤ ``max_fetch`` rows, the final pass takes the
    needed order statistics with ``orderBy().limit(k)`` (planned as
    TakeOrderedAndProject: per-partition top-k + driver merge, never a
    full exchange-and-sort). When the middle bins are HEAVIER than
    ``max_fetch`` — skewed data concentrated around the median, e.g.
    near-constant values plus one range-stretching outlier — the
    function re-histograms WITHIN the candidate bins' value range
    instead of fetching, shrinking the candidate set ~buckets× per
    round, so driver traffic stays bounded in exactly the case the
    function exists for. A range that stops shrinking means the
    remaining candidates are all equal — the median is that value.
    Even row counts average the two middle values, matching
    ``quantile_cont(0.5)`` semantics.

    Returns a 1-row DataFrame ``(n_rows, median)``. Degenerate inputs
    (empty / all-equal) short-circuit on the first round's stats.
    """
    stats = df.agg(
        F.count(col).alias("n"),
        F.min(col).alias("lo"),
        F.max(col).alias("hi"),
    ).collect()[0]
    n, lo, hi = stats["n"], stats["lo"], stats["hi"]
    spark = df.sparkSession
    if n == 0 or lo == hi:
        med = float(lo) if n else None
        return spark.createDataFrame(
            [(n, med)], "n_rows long, median double"
        )

    def _result(med):
        return spark.createDataFrame(
            [(n, float(med))], "n_rows long, median double"
        )

    # Candidate state: rows of `sub` within [lo, hi] (inclusive) hold
    # the global ranks [k1, k2]; r1/r2 are those ranks relative to the
    # candidate set (1-based).
    k1, k2 = (n + 1) // 2, (n + 2) // 2
    sub = df.select(F.col(col).alias("v")).filter(F.col("v").isNotNull())
    lo, hi = float(lo), float(hi)
    r1, r2 = k1, k2
    sub_n = n
    for _ in range(max_rounds):
        if lo >= hi:
            return _result(lo)  # all remaining candidates equal
        width = (hi - lo) / buckets
        bucket = F.least(
            F.lit(buckets - 1),
            F.floor((F.col("v") - F.lit(lo)) / F.lit(width)).cast("int"),
        )
        # per-bin count AND actual min/max: narrowing to the observed
        # value range (not the arithmetic bin edge) is what makes an
        # outlier-stretched range collapse in one round instead of
        # shaving a factor of `buckets` per round
        hist = {
            r["b"]: (r["c"], float(r["mn"]), float(r["mx"]))
            for r in sub.select(bucket.alias("b"), "v")
            .groupBy("b")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
            )
            .collect()
        }
        running = 0
        b1 = b2 = None
        less1 = 0
        for b in range(buckets):
            c = hist.get(b, (0, 0, 0))[0]
            if b1 is None and running + c >= r1:
                b1, less1 = b, running
            if running + c >= r2:
                b2 = b
                break
            running += c
        cand = sum(
            hist.get(b, (0, 0, 0))[0] for b in range(b1, b2 + 1)
        )
        if cand <= max_fetch:
            in_bins = sub.filter(bucket.between(b1, b2))
            # the r2-th candidate-smallest is the (r2 - less1)-th
            # smallest within [b1..b2]; take that prefix ordered
            # ascending, then its two largest are the target order
            # statistics
            need = r2 - less1
            prefix = in_bins.orderBy(F.col("v").asc()).limit(need)
            top2 = prefix.orderBy(F.col("v").desc()).limit(
                2 if k1 != k2 else 1
            )
            med = top2.agg(F.avg("v").alias("median")).collect()[0]["median"]
            return _result(med)
        new_lo, new_hi = hist[b1][1], hist[b2][2]
        if new_lo >= new_hi:
            return _result(new_lo)  # candidate bins hold one value
        if (new_lo, new_hi) == (lo, hi) and cand == sub_n:
            break  # cannot narrow further; fall through to safety net
        # bins partition by value, so [new_lo, new_hi] keeps exactly
        # the rows of bins b1..b2 — sub_n is known without a count()
        sub = sub.filter(
            (F.col("v") >= F.lit(new_lo)) & (F.col("v") <= F.lit(new_hi))
        )
        lo, hi = new_lo, new_hi
        r1, r2 = r1 - less1, r2 - less1
        sub_n = cand
    # Safety net (pathological float plateaus where equal-width bins
    # stop splitting): rank-exact percentile over the already-narrowed
    # candidate set — fractions chosen so linear interpolation lands
    # ON the target order statistics, not between them.
    if sub_n == 1:
        med = sub.collect()[0]["v"]
        return _result(med)
    p1 = (r1 - 1) / (sub_n - 1)
    p2 = (r2 - 1) / (sub_n - 1)
    row = sub.agg(
        F.expr(f"percentile(v, {p1!r})").alias("m1"),
        F.expr(f"percentile(v, {p2!r})").alias("m2"),
    ).collect()[0]
    return _result((row["m1"] + row["m2"]) / 2.0)
