"""Self-tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import corpus, workloads
from perfbench.stats import OpLog, percentile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _corpus_bytes(seed: int) -> bytes:
    gen = corpus.CorpusGenerator(seed)
    docs = [gen.new_bulletin() for _ in range(20)] + gen.batch(10, 0.5)
    return "\n".join(b.xml for b in docs).encode()


def test_generator_same_seed_same_bytes():
    assert _corpus_bytes(7) == _corpus_bytes(7)


def test_generator_different_seed_different_corpus():
    assert _corpus_bytes(7) != _corpus_bytes(8)


def test_revision_keeps_docnbr_and_changes_content():
    gen = corpus.CorpusGenerator(3)
    first = gen.new_bulletin()
    rev = gen.revise(first.docnbr)
    assert rev.docnbr == first.docnbr and rev.revision == 1
    assert rev.xml != first.xml
    assert "REVISION 1" in corpus.doc_facts(rev.xml).subject


def test_batch_never_repeats_a_docnbr():
    gen = corpus.CorpusGenerator(5)
    gen.batch(30, 0.0)
    for _ in range(5):
        b = gen.batch(20, 0.5)
        assert len({x.docnbr for x in b}) == len(b)


def test_line_numbers_recur_across_bulletins():
    gen = corpus.CorpusGenerator(11)
    lines = [set(corpus.doc_facts(gen.new_bulletin().xml).lines) for _ in range(50)]
    assert any(a & b for i, a in enumerate(lines) for b in lines[i + 1:])


def test_model_counts_shared_line_numbers_once_per_batch():
    gen = corpus.CorpusGenerator(2)
    docs = [gen.new_bulletin() for _ in range(10)]
    m = corpus.GraphModel()
    for b in docs:
        m.add_document(b.xml, "Batch_x")
    distinct = set().union(*(corpus.doc_facts(b.xml).lines for b in docs))
    assert m.label_counts()["LineNumber"] == len(distinct)
    assert m.label_counts()["ServiceBulletin"] == 10
    # every parent/child edge has its inverse
    has = sum(1 for e in m.edges if e[2].startswith("HAS_"))
    up = sum(1 for e in m.edges if e[2] == "IS_PART_OF")
    assert has == up
    before = (len(m.nodes), len(m.edges))
    m.add_document(docs[0].xml, "Batch_x")          # idempotent re-merge
    assert (len(m.nodes), len(m.edges)) == before
    m.add_document(docs[0].xml, "Batch_y")
    m.delete_batch("Batch_y")
    assert (len(m.nodes), len(m.edges)) == before


def test_model_khop_reaches_airplanes_not_line_numbers():
    gen = corpus.CorpusGenerator(4)
    b = gen.new_bulletin()
    m = corpus.GraphModel()
    m.add_document(b.xml, "Batch_x")
    n, names = m.khop_grouped(b.docnbr, "Batch_x")
    got = names.split(",")
    assert len(got) == n
    assert got == sorted(got)
    assert "Airplane" not in got          # names of Airplane nodes are types
    for t in corpus.doc_facts(b.xml).types:
        assert t in got
    assert not set(corpus.doc_facts(b.xml).lines) & set(got)


@pytest.mark.parametrize("n,q,beyond", [(1, 75.0, 0), (6, 75.0, 1), (12, 75.0, 3),
                                        (40, 75.0, 10), (10_000, 99.9, 10)])
def test_tail_rank_and_samples_beyond(n, q, beyond):
    log = OpLog()
    for i in range(n):
        log.record((n - i) / 1000, True)    # out of order on purpose
    s = log.summary(q)
    assert s["tail_beyond"] == beyond
    assert s["tail_ms"] == pytest.approx(n - beyond)
    assert s["tail_percentile"] == q


def test_summary_reports_tail_and_counts():
    log = OpLog()
    for i in range(1, 41):
        log.record(i / 1000, True)
    log.wall_s = 2.0
    s = log.summary(75.0)
    assert s["samples"] == 40
    assert s["tail_ms"] == pytest.approx(30.0)
    assert s["tail_beyond"] == 10
    assert s["p50_ms"] == pytest.approx(20.5)
    assert s["ops_per_s"] == pytest.approx(20.0)
    assert percentile([5.0, 1.0, 3.0], 50) == 3.0


def test_failed_ops_count_against_ratio_not_latency():
    log = OpLog()
    log.record(0.010, True)
    log.record(5.000, False, "wrong rows")
    log.record(0.020, True)
    log.record(0.030, False, "raised")
    log.wall_s = 1.0
    s = log.summary(50.0)
    assert (s["attempted"], s["failed"], s["samples"]) == (4, 2, 2)
    assert s["failed_ratio"] == 0.5
    assert s["ops_per_s"] == 2.0
    assert s["p50_ms"] == pytest.approx(15.0)      # the 5 s failure is no sample
    assert log.errors == ["wrong rows", "raised"]


def test_rows_match_is_order_insensitive_with_float_tolerance():
    a = [{"k": "x", "v": 1.0000000001}, {"k": "y", "v": 2.0}]
    b = [{"k": "y", "v": 2.0}, {"k": "x", "v": 1.0}]
    assert workloads.rows_match(a, b)
    assert not workloads.rows_match(a, b[:1])
    assert not workloads.rows_match([{"k": "x", "v": 1.1}], [{"k": "x", "v": 1.0}])


def test_metric_names_are_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]] + list(workloads.PER_LAYER)
    names += [f"query.q01_pricing_summary.{m}" for m in workloads.QUERY_UNITS]
    bad = [n for n in names
           if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n)]
    assert bad == []
    assert [m["name"] for m in spec["per_layer"]] == list(workloads.PER_LAYER)
    assert [m["unit"] for m in spec["per_layer"]] == list(workloads.PER_LAYER.values())
    assert workloads.unit_of("query.graph_mis_luby.task_s") == "s"


def test_model_frames_are_consistent():
    gen = corpus.CorpusGenerator(6)
    m = corpus.GraphModel()
    for b in gen.batch(5, 0.0):
        m.add_document(b.xml, "Batch_a")
    for b in gen.batch(3, 0.5):
        m.add_document(b.xml, "Batch_b")
    nodes, edges = m.frames()
    assert len(nodes) == len(m.nodes) and len(edges) == len(m.edges)
    assert nodes["id"].is_unique
    batch_of = dict(zip(nodes["id"], nodes["batch"]))
    for src, dst, batch in zip(edges["src"], edges["dst"], edges["batch"]):
        assert batch_of[src] == batch_of[dst] == batch   # no cross-batch edge
    assert set(nodes["batch"]) == {"Batch_a", "Batch_b"}


def test_line_numbers_per_bulletin_follow_fixture_ranges():
    gen = corpus.CorpusGenerator(9)
    for _ in range(20):
        n = len(corpus.doc_facts(gen.new_bulletin().xml).lines)
        assert corpus.LINES_PER_DOC[0] <= n <= corpus.LINES_PER_DOC[1]


class _Cycle(workloads.Workload):
    CYCLE = ["a", "b", "c"]

    def __init__(self):   # no work directory, no Spark
        self.tracer = workloads.OFF
        self.traced_lat, self.untraced_lat = {}, {}
        self.ran: list[tuple[str, bool]] = []

    def run_op(self, kind, traced):
        self.ran.append((kind, traced))
        return True, ""


def test_window_ends_at_a_cycle_boundary():
    wl = _Cycle()
    log = wl.measure(workloads.OFF, 0.0, OpLog())
    assert [k for k, _ in wl.ran] == ["a", "b", "c"] * wl.MIN_CYCLES
    assert log.attempted == 3 * wl.MIN_CYCLES
    assert sorted(log.by_kind) == ["a", "b", "c"]
    assert len(log.cycle_rates) == wl.MIN_CYCLES
    wl.warm_up(OpLog())
    assert [k for k, _ in wl.ran[3 * wl.MIN_CYCLES:]] == ["a", "b", "c"]


def test_ops_per_s_is_the_median_cycle_rate():
    log = OpLog()
    for _ in range(9):
        log.record(0.1, True)
    log.wall_s = 10.0
    for wall in (1.0, 5.0, 1.5):       # one cycle slowed by a burst of load
        log.end_cycle(3, wall)
    s = log.summary(90.0)
    assert s["ops_per_s"] == pytest.approx(2.0)
    assert s["cycles"] == 3


def test_traced_window_alternates_traced_and_untraced_cycles():
    from perfbench.trace import Tracer

    class _Spanless(Tracer):       # op bookkeeping without a Spark session
        def begin_op(self, kind, traced):
            return None

        def end_op(self, handle, latency_s, ok):
            pass

    wl = _Cycle()
    wl.measure(_Spanless(None, True), 0.0, OpLog())
    assert wl.ran == [(k, c % 2 == 0) for c in range(max(2, wl.MIN_CYCLES))
                      for k in ("a", "b", "c")]


def test_tables_are_seeded():
    from perfbench import tables
    a, b, c = (tables.generate(0.001, s) for s in (4, 4, 5))
    assert list(a) == tables.TABLES
    assert all(a[t].equals(b[t]) for t in tables.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
