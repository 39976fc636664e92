"""The benchmark's own tests: span arithmetic, order statistics, metric
names and seed determinism. No Spark session is started.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from perfbench import gen, stats
from perfbench.trace import (
    Span,
    Tracer,
    covered_length,
    parse_size,
    self_times,
    span_cost_s,
    uncovered_share,
)
from perfbench.workloads.base import timing
from perfbench.workloads.dml import SCRIPT, WRITES

ROOT = Path(__file__).resolve().parents[2]


def _span(i, parent, start, end, name="s"):
    return Span(i, name, parent, 0, start, end)


# ---- self time ----

def test_self_time_subtracts_nested_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 6.0),
             _span(3, 1, 1.5, 2.5)]
    st = self_times(spans)
    assert st[0] == pytest.approx(7.0)
    assert st[1] == pytest.approx(1.0)  # only its own child counts
    assert st[3] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    # two pool threads running children at the same time
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 6.0), _span(2, 0, 4.0, 8.0),
             _span(3, 0, 7.5, 9.0)]
    assert self_times(spans)[0] == pytest.approx(10.0 - 7.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 3.0, 6.0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_covered_length_merges_and_ignores_empty():
    assert covered_length([(0, 1), (0.5, 2), (3, 3), (4, 5)], 0, 10) == pytest.approx(3.0)
    assert covered_length([], 0, 1) == 0.0


def test_uncovered_share_of_operations():
    # two operations of 4 s; layer calls cover 1 s (nested ones don't add)
    # and 3 s (overlapping)
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 1.0, 2.0), _span(2, 1, 1.2, 1.5),
             _span(3, None, 10.0, 14.0), _span(4, 3, 10.0, 12.0), _span(5, 3, 11.0, 13.0)]
    assert uncovered_share(spans) == pytest.approx(1.0 - 4.0 / 8.0)
    with pytest.raises(ValueError):
        uncovered_share([])


def test_tracer_parents_pool_threads_under_the_owner_span():
    tr = Tracer()
    tr.cycle = 7

    def work():
        with tr.span("child"):
            pass

    with tr.span("root") as root:
        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(work) for _ in range(3)]:
                f.result()
    children = [s for s in tr.spans if s.name == "child"]
    assert len(children) == 3
    assert all(s.parent == root.id and s.cycle == 7 for s in children)
    assert root.parent is None


def test_tracer_wrap_and_unwrap():
    class Box:
        def f(self, x):
            return x + 1

    tr = Tracer()
    tr.wrap(Box, "f", lambda args, kwargs: f"box.f{args[1]}",
            on_result=lambda s, r: s.attrs.update(r=r))
    assert Box().f(2) == 3
    assert tr.spans[0].name == "box.f2" and tr.spans[0].attrs == {"r": 3}
    tr.unwrap_all()
    Box().f(1)
    assert len(tr.spans) == 1


def test_span_cost_is_small_and_leaves_nothing_wrapped():
    cost = span_cost_s(n=2_000)
    assert 0.0 <= cost < 1e-3


def test_parse_size():
    assert parse_size("2.5 MiB") == 2.5 * 2**20
    assert parse_size("1,492.0 B") == 1492.0
    assert parse_size("total (min, med, max)\n7.4 KiB (1 B, 2 B, 3 B)") == 7.4 * 1024


# ---- percentiles and sample counts ----

def test_percentile_refuses_without_ten_samples_beyond():
    with pytest.raises(ValueError, match="10 samples beyond"):
        stats.percentile(range(99), 90)
    assert stats.samples_beyond(100, 90) == 10
    assert stats.percentile(range(1, 101), 90) == 90.0


def test_timing_reports_count_and_refused_tail():
    out: dict = {}
    timing("write_s_p50", [0.3, 0.1, 0.2], out, "write_s_p90")
    assert out["write_s_p50"] == {"value": 0.2, "unit": "s", "n": 3}
    assert out["write_s_p90"]["value"] is None and out["write_s_p90"]["n"] == 3
    assert "10 samples beyond" in out["write_s_p90"]["why"]
    out = {}
    timing("x", [float(i) for i in range(100)], out, "x_p90")
    assert out["x_p90"]["value"] == 89.0


# ---- metric names ----

@pytest.mark.parametrize("name", ["setup_s", "spark.jobs_per_op", "curate.docs_after_near",
                                  "a-b.c_d", "9lives"])
def test_metric_names_accepted(name):
    assert stats.check_name(name) == name


@pytest.mark.parametrize("name", ["", "_lead", "has space", "per/second", "x" * 65, "é"])
def test_metric_names_refused(name):
    with pytest.raises(ValueError):
        stats.check_name(name)


def test_benchmark_json_names_and_keys():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        stats.check_name(n)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    from perfbench.workloads import WORKLOADS
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])


# ---- seed determinism of the derived inputs ----

def test_anonymise_inputs_are_seed_deterministic():
    small = {k: max(5, v // 100) for k, v in gen.ANON_SIZES.items()}
    a = gen.anonymise_tables(3, small)
    b = gen.anonymise_tables(3, small)
    c = gen.anonymise_tables(4, small)
    assert all(a[t].equals(b[t]) for t in a)
    assert any(not a[t].equals(c[t]) for t in a)
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}


def test_written_inputs_are_byte_identical(tmp_path):
    small = {k: max(5, v // 200) for k, v in gen.ANON_SIZES.items()}
    s1 = gen.write_tables(gen.anonymise_tables(5, small), tmp_path / "a")
    s2 = gen.write_tables(gen.anonymise_tables(5, small), tmp_path / "b")
    assert s1 == s2
    for t in s1:
        assert (tmp_path / "a" / f"{t}.parquet").read_bytes() == \
            (tmp_path / "b" / f"{t}.parquet").read_bytes()


def test_corpus_is_seed_deterministic_and_plants_duplicates():
    import numpy as np

    a = gen.documents_table(np.random.default_rng(9), 300)
    b = gen.documents_table(np.random.default_rng(9), 300)
    assert a.equals(b)
    texts = a.column("text").to_pylist()
    assert len(set(texts)) < len(texts)  # exact duplicates are planted
    lineitem = gen.anonymise_tables(2, {k: max(5, v // 100) for k, v in gen.ANON_SIZES.items()})["lineitem"]
    keys = list(zip(lineitem.column("l_orderkey").to_pylist(),
                    lineitem.column("l_linenumber").to_pylist()))
    assert len(keys) == len(set(keys))  # (orderkey, linenumber) is a key


def test_dml_script_shape():
    assert sum(k in WRITES for k in SCRIPT) == 6
    assert SCRIPT[-2:] == ("maint", "travel")
