"""The benchmark's workloads: seeded inputs, set-up, one operation, and
the check of each operation's output.

Both workloads are closed loops with one client: each operation is
issued only after the previous one returned and its result was
checked. The operation sequence is fixed by the seed and by the
requested run length (``ops_for``), never by a clock, so both sides of
a comparison run the same operations.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import random
import time

import expect
import gen

# Nominal cost of one operation on a 4-core host. Only used to turn
# --seconds into a fixed operation count; the timer never decides.
NIGHT_NOMINAL_S = 10.0
QUERY_NOMINAL_S = 0.3


# the keyword phrases of the published table (after the curation map)
PHRASES = sorted({r for k in gen.KEYWORDS for r in expect.reduce_keywords([k])})


def ops_for(seconds: int, nominal_s: float, minimum: int) -> int:
    return max(minimum, math.ceil(seconds / nominal_s))


def plain(v):
    """Spark result values as JSON-able Python (Rows and arrays as lists,
    dates as ISO strings)."""
    from pyspark.sql import Row

    if isinstance(v, Row):
        return [plain(x) for x in v]
    if isinstance(v, (list, tuple)):
        return [plain(x) for x in v]
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


class Workload:
    """What both workloads share: the clock of the benchmark's own work
    inside set-up, which ``setup_s`` leaves out."""

    untimed_s = 0.0

    @contextlib.contextmanager
    def untimed(self):
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.untimed_s += time.monotonic() - t0


# ---------------------------------------------------------------------------


class NightlyFold(Workload):
    """The reference's forever-loop: each operation folds one night's
    landing batch into the persistent dedup state (``fold_dedup_batch``)
    and the release state (``fold_release_batch``), then publishes the
    release datasheet (``publish_release``)."""

    name = "nightly_fold"
    BOOTSTRAP_DOCS = 150
    NIGHT_DOCS = 100
    WARMUP_NIGHTS = 1
    EXACT_RATE = 0.1
    NEAR_RATE = 0.1
    BODY_WORDS = 200
    AGENCIES = 40

    def __init__(self, seed: int, seconds: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.n_ops = ops_for(seconds, NIGHT_NOMINAL_S, 2)

    # -- inputs -----------------------------------------------------------

    def generate(self) -> None:
        rng = random.Random(f"nightly_fold:{self.seed}")
        agencies = gen.make_agencies(rng, self.AGENCIES)
        self.bootstrap = gen.make_corpus(
            rng, agencies, self.BOOTSTRAP_DOCS, 1, self.BODY_WORDS, self.NEAR_RATE
        )
        prior = list(self.bootstrap)
        self.nights: list[list[gen.Doc]] = []
        next_id = 1_000_001
        for _ in range(self.WARMUP_NIGHTS + self.n_ops):
            night = gen.make_night(
                rng, agencies, prior, self.NIGHT_DOCS, next_id, self.BODY_WORDS,
                self.EXACT_RATE, self.NEAR_RATE,
            )
            next_id += self.NIGHT_DOCS
            prior.extend(night)
            self.nights.append(night)

    def write_inputs(self) -> None:
        schema = gen.schemas()["fold"]
        land = os.path.join(self.work, "landing")
        os.makedirs(land)
        self.paths = [os.path.join(land, "bootstrap.parquet")]
        gen.write_parquet(gen.fold_rows(self.bootstrap), schema, self.paths[0])
        for i, night in enumerate(self.nights):
            p = os.path.join(land, f"night-{i:03d}.parquet")
            gen.write_parquet(gen.fold_rows(night), schema, p)
            self.paths.append(p)

    def expectations(self) -> None:
        from mcyj_datapipeline_spark import registry

        sql = registry.oracle_sql()["e17_corpus_release_pipeline"]
        model = expect.FoldModel()
        self.expected = []
        for batch in [self.bootstrap] + self.nights:
            e = model.fold(batch)
            e["datasheet"] = expect.release_datasheet(model.docs, sql)
            self.expected.append(e)

    # -- set-up and operations -------------------------------------------

    def setup(self, spark) -> None:
        from mcyj_datapipeline_spark.streaming.dedup_fold import open_dedup_state
        from mcyj_datapipeline_spark.streaming.release_fold import open_release_state

        t = self.tracer
        self.spark = spark
        with t.span("bench.generate"):
            self.generate()
            self.write_inputs()
        with t.span("bench.expect"), self.untimed():
            self.expectations()
        state = os.path.join(self.work, "state")
        with t.span("streaming.dedup_fold.open_dedup_state"):
            self.dedup_state = open_dedup_state(spark, os.path.join(state, "dedup"))
        with t.span("streaming.release_fold.open_release_state"):
            self.release_state = open_release_state(spark, os.path.join(state, "release"))
        self.state_root = state
        # bootstrap = batch 0, then untimed warm-up nights
        self.failed_setup = 0
        for b in range(1 + self.WARMUP_NIGHTS):
            with t.span("bench.bootstrap" if b == 0 else "bench.warmup"):
                out = self.fold(b)
            with self.untimed():
                if not self.check(b, out):
                    self.failed_setup += 1

    def op_ids(self) -> list[int]:
        return list(range(1 + self.WARMUP_NIGHTS, 1 + self.WARMUP_NIGHTS + self.n_ops))

    def op_name(self, i: int) -> str:
        return "night"

    def units_of(self, i: int) -> int:
        return len(([self.bootstrap] + self.nights)[i])

    def fold(self, i: int):
        from mcyj_datapipeline_spark.streaming import dedup_fold, release_fold

        t = self.tracer
        digests, clusters, sigs = self.dedup_state
        with t.span("bench.read_batch"):
            batch = self.spark.read.parquet(self.paths[i])
        with t.span("streaming.dedup_fold.fold_dedup_batch"):
            dedup_fold.fold_dedup_batch(batch.select("doc_id", "text"), digests, clusters, sigs)
        with t.span("streaming.release_fold.fold_release_batch"):
            committed = release_fold.fold_release_batch(batch, self.release_state)
        with t.span("streaming.release_fold.publish_release"):
            sheet = release_fold.publish_release(committed)
            rows = sheet.collect()
        self.last_df = sheet
        return rows

    run = fold

    def check(self, i: int, rows) -> bool:
        """Untimed: compare the committed state and the published
        datasheet with the expected answers for batch ``i``."""
        from pyspark.sql import functions as F

        want = self.expected[i]
        digests, clusters, _ = self.dedup_state
        cmap = sorted(
            (r[0], r[1]) for r in clusters.read().select("doc_id", "cluster_id").collect()
        )
        ids = {d.doc_id for d in ([self.bootstrap] + self.nights)[i]}
        ingested = sum(1 for doc_id, _ in cmap if doc_id in ids)
        got = {
            "ingested": ingested,
            "dropped_exact": len(ids) - ingested,
            "clusters": len({c for _, c in cmap}),
            "cluster_map": expect.fingerprint([list(x) for x in cmap]),
            "digests": digests.read().agg(F.count(F.lit(1))).first()[0],
        }
        ok = all(got[k] == want[k] for k in got)
        sheet = [[r[0], r[1], int(r[2]), int(r[3]), round(float(r[4]), 6)] for r in rows]
        return ok and expect.datasheet_matches(sheet, want["datasheet"])

    def trace_targets(self):
        """Nested calls wrapped in spans in the traced run only."""
        from mcyj_datapipeline_spark.operators import dedup, quality, sampling
        from mcyj_datapipeline_spark.streaming import incremental, release_fold

        return [
            (incremental.ParquetStateTable, "update", "streaming.incremental.state_update"),
            (dedup, "minhash_signatures", "operators.dedup.minhash_signatures"),
            (dedup, "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs"),
            (dedup, "minhash_lsh_pairs_presketched",
             "operators.dedup.minhash_lsh_pairs_presketched"),
            (dedup, "connected_components", "operators.dedup.connected_components"),
            (release_fold, "score_documents", "streaming.release_fold.score_documents"),
            (quality, "token_budget_select", "operators.quality.token_budget_select"),
            (sampling, "split_assign", "operators.sampling.split_assign"),
        ]

    def state_dirs(self) -> list[str]:
        return [self.state_root]


# ---------------------------------------------------------------------------


class DashboardQueries(Workload):
    """The dashboard reader: one published flat table, many short
    parameter-varied queries. Set-up publishes the site once (document
    info over raw parquet batches, the 5-way join, the nested agency
    JSON and the per-document JSON export), which is also where this
    benchmark measures the write-side layers."""

    name = "dashboard_queries"
    DOCS = 300
    AGENCIES = 60
    RAW_FILES = 4
    BODY_WORDS = 120
    WARMUP_QUERIES = 30
    KINDS = [
        ("agency_list", 0.30),
        ("bar_chart", 0.25),
        ("keywords_top", 0.15),
        ("autocomplete", 0.15),
        ("doc_page", 0.15),
    ]
    BAR_COLUMNS = ["County", "AgencyType", "LicenseStatus", "level"]

    def __init__(self, seed: int, seconds: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.n_ops = ops_for(seconds, QUERY_NOMINAL_S, 100)

    # -- inputs -----------------------------------------------------------

    def generate(self) -> None:
        rng = random.Random(f"dashboard_queries:{self.seed}")
        self.agencies = gen.make_agencies(rng, self.AGENCIES)
        self.docs = gen.make_corpus(rng, self.agencies, self.DOCS, 1, self.BODY_WORDS, 0.05)
        self.enrich = gen.enrichment(rng, self.docs)
        qrng = random.Random(f"dashboard_queries:ops:{self.seed}")
        kinds = self.mix(qrng, self.WARMUP_QUERIES) + self.mix(qrng, self.n_ops)
        self.queries = [self.make_query(qrng, k) for k in kinds]

    def mix(self, rng: random.Random, n: int) -> list[str]:
        """Exactly ``int(n * weight)`` queries of each kind (the remainder
        goes to the first kind), shuffled: the same mix for every seed."""
        counts = {k: int(n * w) for k, w in self.KINDS}
        counts[self.KINDS[0][0]] += n - sum(counts.values())
        kinds = [k for k, c in counts.items() for _ in range(c)]
        rng.shuffle(kinds)
        return kinds

    def make_filter(self, rng: random.Random) -> dict:
        from mcyj_datapipeline_spark.plans.website import ACTIVE_LICENSE_STATUSES

        f: dict = {}
        if rng.random() < 0.3:
            f["license_statuses"] = rng.sample(ACTIVE_LICENSE_STATUSES, rng.randint(1, 3))
        if rng.random() < 0.3:
            f["agency_type"] = rng.choice(gen.AGENCY_TYPES)
        if rng.random() < 0.3:
            f["county"] = rng.choice(gen.COUNTIES)
        if rng.random() < 0.4:
            f["sir_only"] = True
            if rng.random() < 0.5:
                f["severity"] = rng.sample(gen.LEVELS, rng.randint(1, 2))
        if rng.random() < 0.2:
            f["staffing_filter"] = f"{rng.choice(['yes', 'no'])}_{rng.choice(gen.CONFIDENCES)}"
        if rng.random() < 0.2:
            f["keywords_any"] = rng.sample(PHRASES, rng.randint(1, 2))
        return f

    def make_query(self, rng: random.Random, kind: str) -> dict:
        if kind == "agency_list":
            return {"kind": kind, "filter": self.make_filter(rng)}
        if kind == "bar_chart":
            return {"kind": kind, "column": rng.choice(self.BAR_COLUMNS),
                    "filter": self.make_filter(rng) if rng.random() < 0.5 else {}}
        if kind == "keywords_top":
            return {"kind": kind, "k": rng.randint(5, 10), "filter": self.make_filter(rng)}
        if kind == "autocomplete":
            word = rng.choice(rng.choice(PHRASES).split())
            return {"kind": kind, "prefix": word[: rng.randint(1, 3)], "k": 10}
        return {"kind": kind, "sha256": rng.choice(self.docs).sha256}

    def write_inputs(self) -> None:
        schemas = gen.schemas()
        self.inputs = os.path.join(self.work, "inputs")
        raw = os.path.join(self.inputs, "raw")
        os.makedirs(raw)
        per = math.ceil(len(self.docs) / self.RAW_FILES)
        for b in range(self.RAW_FILES):
            gen.write_parquet(
                gen.raw_doc_rows(self.docs[b * per:(b + 1) * per]), schemas["raw"],
                os.path.join(raw, f"batch-{b:02d}.parquet"),
            )
        tables = dict(self.enrich)
        tables["facilities"] = gen.facilities(self.agencies)
        tables["keyword_map"] = gen.keyword_map_rows()
        for name, rows in tables.items():
            gen.write_parquet(rows, schemas[name], os.path.join(self.inputs, f"{name}.parquet"))

    def expectations(self) -> None:
        self.rows = expect.flat_rows(self.docs, self.enrich)
        self.rows_by_sha = {r["sha256"]: r for r in self.rows}
        self.phrase_counts = expect.keyword_counts(self.rows)
        self.expected = [
            expect.fingerprint(
                expect.expected_answer(q, self.rows, self.rows_by_sha, self.phrase_counts)
            )
            for q in self.queries
        ]

    # -- set-up: publish the site once -------------------------------------

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from mcyj_datapipeline_spark import io
        from mcyj_datapipeline_spark.operators import aggregates
        from mcyj_datapipeline_spark.plans import doc_export, website
        from mcyj_datapipeline_spark.plans import document_info as di

        t = self.tracer
        self.spark = spark
        with t.span("bench.generate"):
            self.generate()
            self.write_inputs()
        with t.span("bench.expect"), self.untimed():
            self.expectations()

        def table(name):
            return spark.read.parquet(os.path.join(self.inputs, f"{name}.parquet"))

        pub = os.path.join(self.work, "published")
        self.site = os.path.join(self.work, "site")
        with t.span("bench.publish"):
            raw = spark.read.parquet(os.path.join(self.inputs, "raw"))
            enrich = {n: table(n) for n in
                      ("sir_summaries", "violation_levels", "staffing", "facilities", "keyword_map")}
            with t.span("plans.document_info.document_info"):
                info = di.document_info(raw)
            with t.span("plans.website.build_flat_table"):
                flat = website.build_flat_table(
                    info, enrich["sir_summaries"], enrich["violation_levels"],
                    enrich["staffing"], enrich["facilities"], enrich["keyword_map"],
                )
            with t.span("bench.write_flat"):
                flat.write.parquet(os.path.join(pub, "flat"))
            self.flat = spark.read.parquet(os.path.join(pub, "flat"))
            with t.span("plans.website.nest_agencies"):
                nested = website.nest_agencies(self.flat, ["sha256", "document_title"])
            with t.span("io.write_json"):
                io.write_json(nested, os.path.join(self.site, "agencies"))
            with t.span("plans.doc_export.build_doc_export"):
                export = doc_export.build_doc_export(
                    raw, document_info=info, sir_summaries=enrich["sir_summaries"],
                    violation_levels=enrich["violation_levels"], staffing=enrich["staffing"],
                    keyword_map=enrich["keyword_map"],
                )
            with t.span("io.write_json_per_key"):
                io.write_json_per_key(export, os.path.join(self.site, "docs"), "sha256")
            with t.span("operators.aggregates.build_inverted_index"):
                counts = aggregates.explode_count(self.flat, F.col("keywords"))
                index = aggregates.build_inverted_index(counts, "keyword", "count")
                index.write.parquet(os.path.join(pub, "keyword_index"))
            self.index = spark.read.parquet(os.path.join(pub, "keyword_index"))
        with self.untimed():
            self.failed_setup = 0 if self.check_site() else 1
            sizes = [os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(self.site) for f in fs]
            self.site_files, self.site_bytes = len(sizes), sum(sizes)
        with t.span("bench.warmup"):
            for i in range(self.WARMUP_QUERIES):
                rows = self.run(i)
                with self.untimed():
                    if not self.check(i, rows):
                        self.failed_setup += 1

    def check_site(self) -> bool:
        """Untimed: per-agency report counts in the nested JSON and one
        per-document JSON file per document, with its metadata."""
        agencies = {}
        adir = os.path.join(self.site, "agencies")
        for f in sorted(os.listdir(adir)):
            if f.endswith(".json"):
                with open(os.path.join(adir, f)) as fh:
                    for line in fh:
                        a = json.loads(line)
                        agencies[a["agency_id"]] = (a["total_reports"], len(a["documents"]))
        want: dict[str, int] = {}
        for r in self.rows:
            want[r["agency_id"]] = want.get(r["agency_id"], 0) + 1
        if agencies != {k: (v, v) for k, v in want.items()}:
            return False
        ddir = os.path.join(self.site, "docs")
        found = {}
        for d in os.listdir(ddir):
            if not d.startswith("sha256="):
                continue
            parts = [p for p in os.listdir(os.path.join(ddir, d)) if p.endswith(".json")]
            for p in parts:
                with open(os.path.join(ddir, d, p)) as fh:
                    for line in fh:
                        found[d[len("sha256="):]] = json.loads(line)
        if set(found) != set(self.rows_by_sha):
            return False
        for sha, doc in found.items():
            r = self.rows_by_sha[sha]
            md = doc.get("metadata", {})
            if md.get("agency_id") != r["agency_id"] or md.get("document_title") != r["document_title"]:
                return False
        return True

    # -- operations ---------------------------------------------------------

    def op_ids(self) -> list[int]:
        return list(range(self.WARMUP_QUERIES, self.WARMUP_QUERIES + self.n_ops))

    def op_name(self, i: int) -> str:
        return self.queries[i]["kind"]

    def units_of(self, i: int) -> int:
        return 1

    def run(self, i: int):
        from pyspark.sql import functions as F

        from mcyj_datapipeline_spark.operators import aggregates, relational
        from mcyj_datapipeline_spark.plans import website

        t = self.tracer
        q = self.queries[i]
        kind = q["kind"]
        flat = self.flat
        if kind in ("agency_list", "bar_chart", "keywords_top") and q["filter"]:
            with t.span("plans.website.interactive_filter"):
                flat = website.interactive_filter(flat, **q["filter"])
        if kind == "agency_list":
            with t.span("plans.website.nest_agencies"):
                df = website.nest_agencies(flat, ["sha256", "document_title"])
        elif kind == "bar_chart":
            with t.span("operators.aggregates.group_count_sorted"):
                df = aggregates.group_count_sorted(flat, q["column"])
        elif kind == "keywords_top":
            with t.span("operators.aggregates.explode_count"):
                counts = aggregates.explode_count(flat, F.col("keywords"))
            with t.span("operators.relational.top_k"):
                df = relational.top_k(counts, [F.desc("count"), F.asc("keyword")], q["k"])
        elif kind == "autocomplete":
            with t.span("operators.aggregates.prefix_search"):
                df = aggregates.prefix_search(self.index, q["prefix"], q["k"])
        else:
            with t.span("bench.point_lookup"):
                df = flat.filter(F.col("sha256") == q["sha256"]).select(*expect.DOC_PAGE_COLUMNS)
        with t.span("spark.collect"):
            rows = df.collect()
        self.last_df = df
        return rows

    def check(self, i: int, rows) -> bool:
        q = self.queries[i]
        got = plain(rows)
        if q["kind"] == "agency_list":
            got = [[r[0], r[2], r[3], r[1]] for r in got]
        return expect.fingerprint(got) == self.expected[i]

    def trace_targets(self):
        return []

    def state_dirs(self) -> list[str]:
        return []


WORKLOADS = {w.name: w for w in (NightlyFold, DashboardQueries)}
