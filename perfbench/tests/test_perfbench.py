"""Tests of the benchmark itself: generator determinism, metric names
against BENCHMARK.json, metric arithmetic, and negative controls showing
each correctness check fails when one expected item is dropped.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, metrics  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    WORKLOADS, CurateBatch, CurateStream, GeneAnnotate, GenomeScan)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- generators

@pytest.mark.parametrize("make", [
    lambda s: gen.scan_inputs(s, 2, 4000, 2, (24, 32)).hash(),
    lambda s: gen.annotate_inputs(s, 2, 200, 2, 20).hash(),
    lambda s: gen.batch_corpus(s, 0, 500).hash(),
    lambda s: gen.stream_inputs(s, 2, 2, 20).hash(),
])
def test_same_seed_same_inputs(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_genbank_round_trips_through_the_engine_parser():
    from ncbi_analysis_spark.sources.genbank import parse_genbank

    for g in gen.annotate_inputs(3, 2, 50, 1, 5).genomes:
        acc, source, dna, genes = parse_genbank(gen.genbank_text(g))
        assert (acc, source, dna) == (g.accession, g.source, g.seq)
        assert [(x["left"], x["right"], x["strand"], x["gene"]) for x in genes] == g.genes


def test_genbank_text_has_the_fixture_record_layout():
    def layout(text):
        lines = text.splitlines()
        keys = [ln.split()[0] for ln in lines if ln[:1].isalpha() or ln.startswith("//")]
        dna = [ln[:10] for ln in lines if ln[:9].strip().isdigit()][:2]
        return keys, dna

    with open(os.path.join(ROOT, "tests", "fixtures", "driver_s1.gb")) as f:
        want = layout(f.read())
    assert layout(gen.genbank_text(gen.annotate_inputs(3, 1, 5, 1, 1).genomes[0])) == want


def test_scan_plants_read_back_from_the_genome():
    inp = gen.scan_inputs(5, 2, 4000, 2, (24, 32))
    seqs = dict(inp.genome)
    for req, sites in zip(inp.requests, inp.planted):
        genes = dict(req)
        for name, acc, s, e in sites:
            lo, hi = min(s, e), max(s, e)
            text = seqs[acc][lo - 1:hi]
            assert text == (genes[name] if s < e else gen.revcomp(genes[name]))


# ------------------------------------------------------------------- metrics

def test_metric_names_and_units_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def test_metrics_move_with_measured_op_time():
    cost = [1.0, 1.2, 0.9, 1.1, 1.05, 0.95, 1.3]
    ops = [(job, c * w, 1000) for c in cost for job, w in (("a", 1.0), ("b", 3.0))]
    p50, rate = metrics.round_figures(ops)
    assert p50 == pytest.approx(1.05 * 4.0)     # median of a + median of b
    slow_p50, slow_rate = metrics.round_figures([(j, c * 1.10, n) for j, c, n in ops])
    assert slow_p50 == pytest.approx(p50 * 1.10)
    assert slow_rate == pytest.approx(rate / 1.10)
    assert metrics.round_figures([(j, c, 2 * n) for j, c, n in ops])[1] == pytest.approx(2 * rate)


def test_reported_metrics_come_from_the_measured_ops():
    from argparse import Namespace

    from perfbench.run import Runner

    def report(scale):
        r = Runner(Namespace(trace=0), "")
        r.ops = [{"job": job, "op_s": w * k * scale, "cpu_s": 2.5 * w * k * scale,
                  "items": n}
                 for k in (1.0, 1.3, 0.9, 1.1) for job, w, n in (("a", 2.0, 100), ("b", 1.0, 0))]
        r.setup_s = 20.0
        return r.metrics(), r.figures()

    (m, f), (m2, f2) = report(1.0), report(1.10)
    assert set(m) == set(END_TO_END)
    assert m["round_cpu_s_p50"] == pytest.approx(2.5 * 3.0 * 1.05)
    assert m2["round_cpu_s_p50"] == pytest.approx(m["round_cpu_s_p50"] * 1.10)
    assert m2["items_per_cpu_s"] == pytest.approx(m["items_per_cpu_s"] / 1.10)
    assert f2["wall.round_s_p50"] == pytest.approx(f["wall.round_s_p50"] * 1.10)
    assert f2["wall.items_per_s"] == pytest.approx(f["wall.items_per_s"] / 1.10)
    assert m["items_per_cpu_s"] == pytest.approx(400 / (2.5 * 3.0 * 4.3))


def test_tail_percentile_needs_ten_samples_beyond():
    assert metrics.tail_percentile([1.0] * 39) is None
    assert metrics.tail_percentile([float(i) for i in range(40)])[0] == 75
    assert metrics.tail_percentile([float(i) for i in range(100)])[0] == 90


def test_exchange_count_reads_only_the_final_plan():
    from perfbench.harness import final_plan

    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- == Final Plan ==",
        "   +- ShuffleQueryStage 0",
        "      +- Exchange hashpartitioning(k#1L, 4)",
        "         +- InMemoryTableScan [k#1L]",
        "               +- AdaptiveSparkPlan isFinalPlan=true",
        "                  +- == Final Plan ==",
        "                     ReusedExchange [k#1L]",
        "                  +- == Initial Plan ==",
        "                     Exchange hashpartitioning(k#1L, 4)",
        "+- == Initial Plan ==",
        "   Exchange hashpartitioning(k#1L, 4)",
        "   +- BroadcastExchange HashedRelationBroadcastMode",
    ])
    kept = final_plan(plan)
    assert kept.count("Exchange hashpartitioning") == 1
    assert "ReusedExchange" in kept and "BroadcastExchange" not in kept


# ------------------------------------------------- negative controls (no Spark)

def test_scan_check_catches_a_dropped_or_flipped_hit():
    sites = gen.scan_inputs(1, 2, 4000, 1, (24, 32)).planted[0]
    rows = [(n, a, "+" if s < e else "-", s, e) for n, a, s, e in sites]
    assert gen.check_scan(rows, sites) == []
    assert gen.check_scan(rows[1:], sites)
    n, a, st, s, e = rows[1]
    assert gen.check_scan([rows[0], (n, a, "+", s, e), *rows[2:]], sites)


def test_annotate_check_catches_a_dropped_row():
    wl = GeneAnnotate(None, 4, "")
    wl.N_GENES, wl.MATCHES_PER_ACC = 200, 20
    wl.generate()
    located, neighbors, sources = gen.annotate_model(wl.inputs, 1)
    result = {"located": sorted(located),
              "neighbors": [(m, 0, 0, *v) for m, v in neighbors.items()],
              "sources": list(sources.items())}
    assert wl.check(1, result) == []
    for key in result:
        assert wl.check(1, {**result, key: result[key][1:]}), key


def test_curation_check_catches_a_dropped_doc(tmp_path):
    import duckdb
    import pyarrow.parquet as pq

    from ncbi_analysis_spark.plans.driver_queries import CURATION_SQL

    wl = CurateBatch(None, 4, str(tmp_path))
    wl.N_DOCS = 600
    wl.generate()
    wl.load()
    con = duckdb.connect()
    con.register("documents", pq.read_table(wl.paths[1]))
    rows = con.execute(CURATION_SQL).fetchall()
    con.close()
    assert len(rows) > 100
    assert wl.check(1, {"curated": rows}) == []
    assert wl.check(1, {"curated": rows[1:]})
    assert wl.check(0, {"curated": rows})   # another request's oracle


# ------------------------------------------- negative controls (on the engine)

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import harness

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s = harness.start_session(str(tmp_path_factory.mktemp("spark")))
    yield s
    harness.stop_session(s)


def test_scan_op_finds_every_plant_and_check_fails_without_one(spark, tmp_path):
    wl = GenomeScan(spark, 11, str(tmp_path))
    wl.N_ACC, wl.ACC_LEN = 2, 6000
    wl.generate()
    wl.load()
    result = wl.op(1)
    assert wl.check(1, result) == []
    planted = set(wl.inputs.planted[1])
    kept = [r for r in result["scan"] if (r[0], r[1], r[3], r[4]) != min(planted)]
    assert wl.check(1, {"scan": kept})


def test_stream_run_check_fails_when_a_surviving_doc_is_lost(spark, tmp_path):
    wl = CurateStream(spark, 11, str(tmp_path))
    wl.FILES, wl.DOCS_PER_FILE = 2, 40
    wl.generate()
    wl.load()
    for i in range(2):
        wl.prepare(i)
        wl.op(i)
    assert wl.finish() == []
    kept = wl.sink_ids()
    assert 0 < len(kept) < 2 * wl.items(0)
    wl.sink_ids = lambda: kept[1:]     # one surviving doc lost
    assert wl.finish()
