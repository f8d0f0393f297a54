"""Self-tests of the benchmark harness; no Spark needed.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import filecmp
import json
import os

import pytest

import gen
import spec
from tracing import Span, Tracer, by_name, covered, percentile, self_times
from workloads import CatalogServe, CorpusCurate, Run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


@pytest.mark.parametrize("make,kwargs", [
    (gen.make_populate, dict(n_intact=500, n_biogrid=500, n_tf=300, n_genes=200, delta_rows=50)),
    (gen.make_serve, dict(n_pathways=300, n_proteins=100, mean_members=4, n_clients=2,
                          stream_len=50)),
    (gen.make_curate, dict(n_docs=200, n_vectors=200, n_heldout=20)),
])
def test_generator_is_deterministic(tmp_path, make, kwargs):
    a = make(7, str(tmp_path / "a"), **kwargs)
    b = make(7, str(tmp_path / "b"), **kwargs)
    c = make(8, str(tmp_path / "c"), **kwargs)
    if make is gen.make_populate:  # deltas are inputs too
        for inp in (a, b, c):
            inp.delta(0)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    if make is gen.make_serve:
        assert a.streams == b.streams != c.streams


def test_populate_truth_counts_every_row(tmp_path):
    inp = gen.make_populate(3, str(tmp_path), n_intact=2000, n_biogrid=2000, n_tf=1000,
                            n_genes=100, delta_rows=40)
    for src in ("intact", "biogrid"):
        # rows are edges, rejects, or dropped before either (omitted types,
        # missing fields); about 2-3% are dropped in intact, none in biogrid
        total = inp.expected_edges[src] + inp.expected_rejects[src]
        assert 0.9 * inp.raw_rows[src] < total <= inp.raw_rows[src]
        assert 0 < inp.expected_rejects[src] < 0.5 * inp.raw_rows[src]
    assert inp.expected_rejects["biogrid"] + inp.expected_edges["biogrid"] == 2000
    _, rows, added = inp.delta(0)
    assert (rows, added) == (40, 4)
    assert len(inp.upsert_keys) == 104


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(99)), 0.9) == (None, 99, 9)
    value, n, beyond = percentile([float(x) for x in range(100)], 0.9)
    assert (value, n, beyond) == (89.0, 100, 10)
    assert percentile([3.0, 1.0, 2.0], 0.5) == (2.0, 3, 1)  # medians have no tail rule
    assert percentile([], 0.5) == (None, 0, 0)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(1, "root", 0.0, None, "r", end=10.0),
        Span(2, "a", 1.0, 1, "r", end=3.0),
        Span(3, "b", 2.0, 1, "r", end=5.0),   # overlaps a: union 1..5
        Span(4, "c", 7.0, 1, "r", end=8.0),
        Span(5, "d", 2.5, 3, "r", end=4.0),   # grandchild: only b's self time
        Span(6, "e", 9.0, 1, "r", end=12.0),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - (4 + 1 + 1))
    assert st[3] == pytest.approx(3 - 1.5)
    assert st[5] == pytest.approx(1.5)
    assert covered([(0, 1), (0.5, 2), (3, 4)], 0, 10) == pytest.approx(3)
    agg = by_name(spans)
    assert agg["root"]["count"] == 1 and agg["root"]["self_s"] == pytest.approx(4)


def test_tracer_nests_per_thread_and_is_free_when_off():
    tr = Tracer(enabled=True)
    with tr.span("outer", rid="q1") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.id and inner.rid == "q1"
    off = Tracer(enabled=False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


def _serve(tmp_path) -> CatalogServe:
    wl = CatalogServe(1, str(tmp_path), Tracer(False))
    wl.inp = gen.make_serve(1, str(tmp_path), n_pathways=200, n_proteins=60,
                            mean_members=4, n_clients=2, stream_len=40)
    wl.latest = dict(wl.inp.latest_action)
    return wl


def test_serve_checker_accepts_truth_and_rejects_wrong_answers(tmp_path):
    wl = _serve(tmp_path)
    run = Run()
    for req in wl.inp.streams[0]:
        got = wl.inp.expected(req)
        if req[0] == "lookup":
            got = got[:50]
        elif req[0] == "enrich":
            got = (got[0], got[1][:20])
        elif req[0] == "actions":
            got = [{"resource": r, "action": a} for r, a in got.items()]
        wl._check(req, got, run)
    assert run.failures == [] and run.attempted == 40

    wrong = Run()
    wl._check(("sparql", "path", 9), ["http://bench.example/pw0"], wrong)
    wl._check(("lookup", 5), [999], wrong)
    enrich = wl.inp.expected(("enrich", ["GENE1", "GENE2"], "gene1"))
    pw, (mapped, size, syms) = next(iter(enrich[0].items()))
    enrich[0][pw] = (mapped + 1, size, syms)
    wl._check(("enrich", ["GENE1", "GENE2"], "gene1"), enrich, wrong)
    wl._check(("actions",), [{"resource": "res0", "action": "nope"}], wrong)
    assert len(wrong.failures) == wrong.attempted == 4


def test_curate_checker_rejects_a_wrong_answer(tmp_path):
    wl = CorpusCurate(1, str(tmp_path), Tracer(False))
    wl.inp = gen.make_curate(1, str(tmp_path), n_docs=300, n_vectors=300, n_heldout=20)
    wl.truth()
    w = wl.want
    by_lang = [{"lang": k, "n": v, "tokens": 0, "chars": 0} for k, v in w.lang_counts.items()]
    by_lang[0].update(tokens=w.tokens, chars=w.chars)
    dropped = [{"doc_id": d, "cluster": m} for d, m in w.fuzzy_component.items() if d != m]
    spans = {"n": w.n_exact_survivors, "kept": w.span_kept, "dropped": w.span_dropped}
    pairs = [{"id_a": a, "id_b": b} for a, b in w.emb_pairs]
    hits = [{"lid": d, "rid": b} for d, b in w.contamination_pairs]
    n_clean = w.n_exact_survivors - len({d for d, _ in w.contamination_pairs})

    def check(**change):
        args = dict(by_lang=by_lang, n_exact=w.n_exact_survivors, dropped=dropped,
                    spans=spans, pairs=pairs, hits=hits, n_clean=n_clean)
        args.update(change)
        run = Run()
        wl._check(run, wl.inp, w, **args)
        return run.failures

    assert check() == []
    assert "drop_exact_duplicates" in check(n_exact=w.n_exact_survivors - 1)[0]
    assert len(check(spans=dict(spans, kept=w.span_kept + 1))) == 1
    unrelated = [d for d in w.fuzzy_component if d not in dict(
        (x["doc_id"], 1) for x in dropped)]
    bad_cluster = dropped + [{"doc_id": min(wl.inp.exact_copies), "cluster": unrelated[0]}]
    assert len(check(dropped=bad_cluster)) == 1
    assert len(check(hits=hits + [{"lid": 0, "rid": 99}])) >= 1


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        assert json.load(fh) == spec.benchmark_json()
    names = [m["name"] for m in spec.END_TO_END + spec.PER_LAYER]
    assert len(names) == len(set(names))
    assert all(len(n) <= 64 for n in names)
    assert {w["name"] for w in spec.WORKLOADS} >= {
        w for m in spec.LAYER_MAP.values() for w in m["on"]}
