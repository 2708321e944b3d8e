"""The benchmark's own tests: deterministic inputs, a verifier that
rejects wrong results, and spans that nest. No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
sys.path.insert(0, os.path.dirname(HERE))

import expect  # noqa: E402
import gen  # noqa: E402
import pytest  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _inputs(cls, seed, work):
    wl = cls(seed, 30, str(work), spans.NullTracer())
    wl.generate()
    wl.write_inputs()
    out = {}
    for d, _, files in os.walk(work):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, work)] = fh.read()
    return wl, out


@pytest.mark.parametrize("cls", [workloads.NightlyFold, workloads.DashboardQueries])
def test_same_seed_gives_byte_identical_inputs(cls, tmp_path):
    _, a = _inputs(cls, 7, tmp_path / "a")
    _, b = _inputs(cls, 7, tmp_path / "b")
    _, c = _inputs(cls, 8, tmp_path / "c")
    assert a and a == b
    assert a != c


def test_same_seed_gives_same_operation_sequence(tmp_path):
    a, _ = _inputs(workloads.DashboardQueries, 3, tmp_path / "a")
    b, _ = _inputs(workloads.DashboardQueries, 3, tmp_path / "b")
    assert a.queries == b.queries
    assert len(a.op_ids()) == workloads.ops_for(30, workloads.QUERY_NOMINAL_S, 100)


def test_planted_duplicates_have_known_similarity():
    import random

    rng = random.Random(1)
    agencies = gen.make_agencies(rng, 5)
    d = gen.make_doc(rng, 1, agencies, 200)
    near = gen.near_duplicate(rng, d, 2)
    exact = gen.exact_duplicate(d, 3)

    def shingles(text):
        w = text.split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    s, n = shingles(d.text), shingles(near.text)
    assert len(s & n) / len(s | n) > 0.99
    assert exact.sha256 == d.sha256 and near.sha256 != d.sha256
    other = gen.make_doc(rng, 4, agencies, 200)
    o = shingles(other.text)
    assert len(s & o) / len(s | o) < 0.2


def _dashboard(tmp_path):
    wl, _ = _inputs(workloads.DashboardQueries, 5, tmp_path)
    wl.expectations()
    return wl


def test_verifier_accepts_the_expected_result_and_rejects_a_corrupted_one(tmp_path):
    wl = _dashboard(tmp_path)
    by_kind = {}
    for i, q in enumerate(wl.queries):
        by_kind.setdefault(q["kind"], i)
    assert set(by_kind) == {k for k, _ in wl.KINDS}
    for kind, i in by_kind.items():
        q = wl.queries[i]
        want = expect.expected_answer(q, wl.rows, wl.rows_by_sha, wl.phrase_counts)
        assert want, kind
        # Spark's column order for the nested agency list
        rows = [[r[0], r[3], r[1], r[2]] for r in want] if kind == "agency_list" else want
        assert wl.check(i, rows), kind
        bad = [list(r) for r in rows]
        bad[0][-1] = bad[0][-1] + 1 if isinstance(bad[0][-1], int) else "corrupted"
        assert not wl.check(i, bad), kind
        assert not wl.check(i, rows[1:] if len(rows) > 1 else []), kind


def test_filter_reference_selectivity_varies(tmp_path):
    wl = _dashboard(tmp_path)
    sizes = {len(expect.apply_filter(wl.rows, q["filter"]))
             for q in wl.queries if q["kind"] == "agency_list"}
    assert len(sizes) > 5 and max(sizes) == len(wl.rows)


def test_fold_model_counts_and_datasheet_check():
    import random

    rng = random.Random(2)
    agencies = gen.make_agencies(rng, 3)
    boot = gen.make_corpus(rng, agencies, 20, 1, 50, 0.0)
    night = [gen.exact_duplicate(boot[0], 100), gen.near_duplicate(rng, boot[1], 101),
             gen.make_doc(rng, 102, agencies, 50)]
    m = expect.FoldModel()
    e0 = m.fold(boot)
    assert (e0["ingested"], e0["dropped_exact"], e0["clusters"]) == (20, 0, 20)
    e1 = m.fold(night)
    # the exact copy is dropped, the near copy joins boot[1]'s cluster
    assert (e1["ingested"], e1["dropped_exact"], e1["clusters"]) == (2, 1, 21)
    assert m.cluster[101] == boot[1].doc_id
    sheet = [["test", "en", 3, 120, 0.812345], ["train", "en", 9, 400, 0.8]]
    assert expect.datasheet_matches(sheet, [list(r) for r in sheet])
    assert not expect.datasheet_matches(sheet, [sheet[0], ["train", "en", 8, 400, 0.8]])
    assert not expect.datasheet_matches(sheet, [sheet[0], ["train", "en", 9, 400, 0.81]])
    assert not expect.datasheet_matches(sheet, sheet[:1])


def test_spans_nest_inside_their_parents_and_self_times_add_up():
    t = spans.Tracer()
    with t.operation(0, "op"):
        with t.span("a"):
            with t.span("a.inner"):
                time.sleep(0.002)
            time.sleep(0.001)
        with t.span("b"):
            time.sleep(0.002)
    with t.span("outside"):
        pass
    by_id = {s.id: s for s in t.spans}
    for s in t.spans:
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start <= s.end <= p.end
            assert s.op == p.op
    assert by_id[4].op is None and by_id[4].parent is None
    selfs = t.self_times()
    root = t.spans[0]
    assert abs(sum(selfs[s.id] for s in t.op_spans(0)) - root.duration) < 1e-9
    assert all(v >= 0 for v in selfs.values())
    assert selfs[1] < by_id[1].duration  # 'a' minus its child


def test_wrapped_records_a_span_and_restores_the_original():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    orig = Owner.f
    t = spans.Tracer()
    with spans.wrapped(t, [(Owner, "f", "layer.f")]):
        with t.operation(1, "op"):
            assert Owner.f(1) == 2
    assert Owner.f is orig
    assert [s.name for s in t.spans] == ["op", "layer.f"]
    assert t.spans[1].parent == t.spans[0].id
