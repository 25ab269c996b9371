"""Unit tests for the benchmark's pure helpers and generators (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os

import pytest

import gen
import run
import stats
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_percentile_nearest_rank_and_count_beyond():
    values = list(range(1, 101))
    assert stats.percentile(values, 90) == (90, 10)
    assert stats.percentile(values, 100) == (100, 0)
    assert stats.percentile([5.0], 90) == (5.0, 0)
    # ties at the percentile are not "beyond" it
    assert stats.percentile([1, 2, 2, 2, 3], 60) == (2, 1)
    with pytest.raises(ValueError):
        stats.percentile([], 90)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 0)


def test_geomean():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_self_time_subtracts_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    children = [
        {"start": 1.0, "end": 3.0},
        {"start": 2.0, "end": 5.0},   # overlaps the first: counted once
        {"start": 7.0, "end": 8.0},
        {"start": 9.5, "end": 12.0},  # runs past the parent: clipped
    ]
    assert stats.self_time(parent, children) == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert stats.self_time(parent, []) == 10.0
    assert stats.self_time(parent, [{"start": 11.0, "end": 12.0}]) == 10.0


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def test_crystal_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (gen.crystal_records(s, 60) for s in (7, 7, 8))
    assert a == b
    assert a != c
    gen.write_crystal_sources(str(tmp_path / "a"), a)
    gen.write_crystal_sources(str(tmp_path / "b"), b)
    files = _tree_bytes(str(tmp_path / "a"))
    assert files == _tree_bytes(str(tmp_path / "b"))
    assert sum(f.endswith(".cif") for f in files) == 60
    assert sum(f.endswith(".json.bz2") for f in files) == 4


def test_crystal_generator_covers_sizes_elements_systems_and_gaps():
    recs = gen.crystal_records(3, 200)
    all_recs = [r for s in gen.SOURCES for r in recs[s]]
    sizes = {len(r["elements"]) for r in all_recs}
    assert min(sizes) >= 1 and max(sizes) <= gen.MAX_SITES and len(sizes) > 10
    assert len({e for r in all_recs for e in r["elements"]}) >= 7
    systems = {r["doc"]["symmetry"]["crystal_system"] for r in recs["mp"]}
    assert len(systems) == len(gen.CRYSTAL_SYSTEMS)
    gaps = [r["band_gap"] for r in recs["mp"]]
    assert 0.0 in gaps and max(gaps) > 1.0
    assert len({r["source_id"] for r in all_recs}) == len(all_recs)


def test_llm_tables_are_deterministic_per_seed(tmp_path):
    assert gen.documents(5, 300) == gen.documents(5, 300)
    assert gen.documents(5, 300) != gen.documents(6, 300)
    gen.write_llm_tables(str(tmp_path / "a"), 5, 300, 200)
    gen.write_llm_tables(str(tmp_path / "b"), 5, 300, 200)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    docs = gen.documents(5, 2000)
    texts = [d[1] for d in docs]
    assert len(set(texts)) < len(texts)  # exact duplicates for dedup_exact_text
    _, vecs, labels = gen.embeddings(5, 200)
    norms = [math.sqrt(float((v.astype("float64") ** 2).sum())) for v in vecs]
    assert all(abs(n - 1.0) < 1e-5 for n in norms)
    assert set(labels.tolist()) == set(range(gen.EMB_LABELS))


def test_crystal_expected_rows_apply_update_and_delete(tmp_path):
    wl = workloads.CrystalDb(None, str(tmp_path), 4)
    rows = wl.expected_rows()
    n_all = sum(len(wl.records[s]) for s in gen.SOURCES)
    assert 0 < len(rows) < n_all
    assert all(r[4] is None or r[4] <= workloads.DELETE_HULL for r in rows)
    by_id = {r[1]: r for r in rows}
    mp = {r["source_id"]: r for r in wl.records["mp"]}
    raised = [i for i in wl.update_ids if i in mp and i in by_id]
    assert raised and all(by_id[i][3] == mp[i]["band_gap"] + 1.0 for i in raised)
    assert workloads.rows_digest(rows) == workloads.rows_digest(list(reversed(rows)))


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)


def test_tree_cpu_s_counts_descendants_and_not_waiting():
    import subprocess
    import sys

    before = run.tree_cpu_s([os.getpid()])
    # a child that burns about 0.5 s of CPU, then one that only sleeps
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    busy = run.tree_cpu_s([os.getpid()]) - before
    subprocess.run([sys.executable, "-c", "import time; time.sleep(0.5)"], check=True)
    idle = run.tree_cpu_s([os.getpid()]) - before - busy
    assert 0.45 <= busy < 1.5
    assert idle < 0.3
