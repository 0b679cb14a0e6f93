"""Tests of the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
from stats import parse_metric, self_times, tail  # noqa: E402


# ------------------------------------------------------------ tail rule

def test_tail_needs_more_than_ten_samples():
    assert tail(list(range(10))) is None
    assert tail([]) is None


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = list(range(1, 12))  # 11 samples
    pct, value, n = tail(xs)
    assert n == 11 and value == 1 and pct == 9
    assert sum(x > value for x in xs) == 10


def test_tail_is_highest_such_percentile():
    xs = list(np.random.default_rng(0).permutation(np.arange(100.0)))
    pct, value, n = tail(xs)
    assert (pct, value, n) == (90, 89.0, 100)
    assert sum(x > value for x in xs) == 10
    # one more sample moves the tail up, never below ten beyond
    pct2, value2, _ = tail(xs + [1000.0])
    assert value2 == 90.0 and pct2 == 90
    assert sum(x > value2 for x in xs + [1000.0]) == 10


# ------------------------------------------------- status-store strings

@pytest.mark.parametrize("text,value", [
    ("1,234", 1234.0),
    ("20,000", 20000.0),
    ("0", 0.0),
    ("472.0 B", 472.0),
    ("79.3 KiB", 79.3 * 1024),
    ("12.5 MiB", 12.5 * 1024 ** 2),
    ("1.5 GiB", 1.5 * 1024 ** 3),
    ("2 ms", 0.002),
    ("1.7 s", 1.7),
    ("3.2 m", 192.0),
    ("1.0 h", 3600.0),
])
def test_parse_plain_values(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_total_min_med_max_form():
    t = "total (min, med, max (stageId: taskId))\n10.4 s (184 ms, 2.1 s, 2.6 s (stage 2.0: task 5))"
    assert parse_metric(t) == pytest.approx(10.4)
    t = "total (min, med, max (stageId: taskId))\n1600.0 B (400.0 B, 400.0 B, 400.0 B (stage 0.0: task 3))"
    assert parse_metric(t) == pytest.approx(1600.0)
    t = "total (min, med, max (stageId: taskId))\n1,234 (1, 2, 3 (stage 1.0: task 2))"
    assert parse_metric(t) == pytest.approx(1234.0)


def test_parse_rejects_missing_and_unknown():
    assert parse_metric(None) is None
    assert parse_metric("") is None
    assert parse_metric("total (min, med, max)") is None
    assert parse_metric("5 furlongs") is None


# ----------------------------------------------------------- self time

def _span(i, parent, a, b):
    return {"id": i, "parent": parent, "start": a, "end": b}


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 6.0),
             _span(3, 1, 1.5, 2.5)]
    st = self_times(spans)
    assert st[0] == pytest.approx(7.0)
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_merges_overlaps_and_clips():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 5.0), _span(2, 0, 4.0, 7.0),
             _span(3, 0, 9.0, 12.0)]  # 3 runs past its parent's end
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert sum(st[i] for i in (1, 2)) == pytest.approx(6.0)


def test_self_time_of_leaf_is_duration():
    assert self_times([_span(7, None, 1.0, 1.25)]) == {7: pytest.approx(0.25)}


# ---------------------------------------------------------- generators

def test_pages_same_seed_same_inputs():
    a, b = gen.pages(5, n=300), gen.pages(5, n=300)
    assert a["columns"]["url"] == b["columns"]["url"]
    assert a["columns"]["html"] == b["columns"]["html"]
    assert a["expected"] == b["expected"]
    assert gen.pipeline_queries(5) == gen.pipeline_queries(5)


def test_pages_other_seed_other_inputs():
    a, b = gen.pages(5, n=300), gen.pages(6, n=300)
    assert a["columns"]["html"] != b["columns"]["html"]
    assert a["hot_share"] != b["hot_share"]
    assert gen.pipeline_queries(5) != gen.pipeline_queries(6)


def test_pages_cover_every_geocode_path():
    methods = set(gen.pages(1, n=400)["expected"]["method"])
    assert methods == {"url", "content", "cctld", "none"}


def _pool(seed):
    return gen.query_pool(seed, gen.query_points(seed, n=2000))


def test_query_pool_deterministic_and_seeded():
    a, b, c = _pool(3), _pool(3), _pool(4)
    assert a["order"] == b["order"]
    assert [q["boxes"] for q in a["pip"]] == [q["boxes"] for q in b["pip"]]
    assert [q["k"] for q in a["knn"]] == [q["k"] for q in b["knn"]]
    assert a["order"] != c["order"]
    assert [q["boxes"] for q in a["pip"]] != [q["boxes"] for q in c["pip"]]
    np.testing.assert_array_equal(gen.query_points(3, n=50)["lat"], gen.query_points(3, n=50)["lat"])
    assert not np.array_equal(gen.query_points(3, n=50)["lat"], gen.query_points(4, n=50)["lat"])


def test_query_mix_is_fixed_per_round():
    order = _pool(9)["order"]
    k = len(gen.KINDS)
    for i in range(0, 60, k):
        assert sorted(order[i:i + k]) == sorted(gen.KINDS)


def test_corpus_deterministic_and_seeded():
    a, b, c = gen.corpus(2, n=600), gen.corpus(2, n=600), gen.corpus(3, n=600)
    assert a["text"] == b["text"] and a["expect"] == b["expect"]
    assert a["text"] != c["text"]
    assert a["shares"] != c["shares"]


def test_corpus_plants_what_it_claims():
    c = gen.corpus(4, n=800)
    e = c["expect"]
    assert e["docs_in"] > e["after_quality"] > e["after_decontam"] > e["after_dedup"]
    assert c["near_pairs"] and all(j >= 0.7 for _a, _b, j in c["near_pairs"])
    assert c["boiler_docs"] > 1


def test_stream_files_deterministic_and_seeded():
    a, b, c = gen.stream_files(1), gen.stream_files(1), gen.stream_files(2)
    assert a["distinct"] == b["distinct"]
    assert a["distinct"] != c["distinct"]
    rows = sum(len(f["text"]) for f in a["doc_files"])
    assert len(a["distinct"]) < rows  # duplicates are present
    assert sum(n for _id, n in a["distinct"].values()) == rows


# ------------------------------------------------------- BENCHMARK.json

REPO = Path(__file__).resolve().parent.parent


def test_benchmark_json_matches_the_metrics_run_prints():
    import json

    import run

    doc = json.loads((REPO / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS

    assert {w["name"] for w in doc["workloads"]} <= set(WORKLOADS)
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])


def test_curate_stage_lookup_follows_the_job_sections():
    from spans import curate_stage_of

    path = REPO / "jobs" / "curate.py"
    lines = path.read_text().splitlines()
    where = {  # a line inside each section -> the section it must map to
        "n_quality = kept.count()": "quality",
        "n_clean = clean.count()": "decontam",
        "n_unique = unique.count()": "exact dedup",
        "st = packing_stats(packed, max_tokens)": "packing",
    }
    for needle, section in where.items():
        line = next(i for i, t in enumerate(lines, 1) if needle in t)
        assert section in curate_stage_of(str(path), line)
    assert curate_stage_of(str(path), 1) == "load"


def test_plan_node_description_keeps_the_scan_location():
    from spans import _short_desc

    cols = ",".join(f"c{i}" for i in range(100))
    desc = f"FileScan parquet [{cols}] Location: InMemoryFileIndex(1 paths)[file:/w/geocode/data], X"
    assert "/geocode/data" in _short_desc(desc)
    assert len(_short_desc(desc)) < 700
    assert _short_desc("Project [a, b]") == "Project [a, b]"
