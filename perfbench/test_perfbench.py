"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys
from itertools import combinations

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402
from worker import land, tail  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def shingles(text: str, size: int = wl.SHINGLE) -> set[str]:
    """Word shingles as ``operators.dedup.ngram_jaccard_pairs`` forms them:
    whitespace tokens, ``size`` consecutive tokens joined by a space."""
    toks = text.split()
    return {" ".join(toks[i:i + size]) for i in range(len(toks) - size + 1)}


def _batches(seed: int, n: int):
    gen = wl.IngestGenerator(seed)
    return gen, [gen.next_batch() for _ in range(n)]


def test_same_seed_same_query_order_and_other_seeds_differ():
    for names in wl.QUERY_WORKLOADS.values():
        assert wl.query_order(names, 7, 0) == wl.query_order(names, 7, 0)
        orders = {tuple(wl.query_order(names, s, 0)) for s in range(10)}
        assert len(orders) > 1
        assert sorted(wl.query_order(names, 7, 3)) == sorted(names)


def test_workload_queries_are_registered_with_an_oracle():
    sys.path.insert(0, os.path.dirname(HERE))
    import xlearning_spark.queries  # noqa: F401
    from xlearning_spark.queries import registry

    specs = registry.specs()
    for names in wl.QUERY_WORKLOADS.values():
        for name in names:
            assert specs[name].oracle is not None, name


def test_same_seed_lands_byte_identical_files(tmp_path):
    for run in ("a", "b"):
        for i, rows in enumerate(_batches(5, 3)[1]):
            land(str(tmp_path / run), i, rows)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b")) and len(names) == 3
    _, mismatch, errors = filecmp.cmpfiles(
        tmp_path / "a", tmp_path / "b", names, shallow=False
    )
    assert not mismatch and not errors
    assert _batches(5, 3)[1] != _batches(6, 3)[1]


def test_metric_names_match_and_agree_with_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert e2e == wl.END_TO_END
    assert layers == wl.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(wl.WORKLOADS)
    for name in [*e2e, *layers, *wl.WORKLOADS]:
        assert NAME.fullmatch(name), name


def test_planted_near_dups_clear_threshold_and_nothing_else_is_shared():
    gen, batches = _batches(3, 4)
    docs = {doc_id: text for batch in batches for doc_id, text in batch}
    sh = {doc_id: shingles(text) for doc_id, text in docs.items()}
    planted = dict(gen.planted_pairs)
    assert planted, "the generator planted no near-dups"
    for dup, src in planted.items():
        assert len(sh[dup] & sh[src]) / len(sh[dup] | sh[src]) >= wl.THRESHOLD
    # Pairs allowed to share shingles: a near-dup with its source, and
    # two near-dups of one source. Every other pair shares none.
    root = {d: planted.get(d, d) for d in docs}
    for a, b in combinations(docs, 2):
        if root[a] != root[b]:
            assert not sh[a] & sh[b], (a, b)
    assert gen.plan.survivors == set(docs) - set(planted)
    assert any(not t.isascii() for t in docs.values())


def test_planted_share_is_exact():
    gen, batches = _batches(9, 3)
    offered = sum(len(b) for b in batches)
    unique_ids = {doc_id for b in batches for doc_id, _ in b}
    assert gen.plan.batch_sizes == [wl.BATCH_ROWS] * 3
    assert offered - len(gen.plan.survivors) == gen.plan.planted_rows
    assert len(unique_ids) == offered - 3 * gen.n_redeliver


def test_tail_needs_ten_samples_beyond():
    t = tail([float(i) for i in range(1, 101)])
    assert (t["pct"], t["beyond"], t["value"]) == (90, 10, 90.0)
    small = tail([3.0, 1.0, 2.0])
    assert (small["pct"], small["value"]) == (50, 2.0)
