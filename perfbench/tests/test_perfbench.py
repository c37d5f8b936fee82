"""Tests for the benchmark's own helpers; none of them starts Spark.

    python3 -m pytest perfbench/tests
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.latency import nearest_rank, summarise, tail_percentile  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    Job,
    Span,
    Stage,
    attribute,
    merge,
    self_intervals,
    subtract,
    union_length,
)


# -- generator ---------------------------------------------------------------
def _digest(seed: int) -> str:
    h = hashlib.sha256()
    ids, X = inputs.ann_corpus(seed, 300)
    h.update(ids.tobytes() + X.tobytes())
    h.update(inputs.ann_queries(seed, 3, 50).tobytes())
    u_ids, u_X = inputs.ann_upsert(seed, 300, 8, 8)
    h.update(u_ids.tobytes() + u_X.tobytes())
    ids, X = inputs.table_rows(seed, 200)
    h.update(ids.tobytes() + X.tobytes())
    blocks = itertools.islice(inputs.table_blocks(seed, 200, 4), 3)
    for op in itertools.chain(inputs.table_warmup(seed), *blocks):
        h.update(repr((op.kind, op.id, op.tag)).encode())
        if op.vector is not None:
            h.update(op.vector.tobytes())
    c = inputs.corpus_batch(seed, 1, 120, 1000)
    h.update(c.doc_ids.tobytes() + c.quality.tobytes() + c.family.tobytes())
    h.update("\n".join(c.texts).encode())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_inputs():
    assert _digest(7) == _digest(7)


def test_different_seeds_give_different_inputs():
    assert _digest(7) != _digest(8)


def test_table_ops_keep_the_block_mix_and_delete_only_live_ids():
    blocks = list(itertools.islice(inputs.table_blocks(3, 50, 4), 6))
    live = set(range(50))
    writes = 0
    for block in blocks:
        kinds = [op.kind for op in block if op.kind != "compact"]
        assert kinds == list(inputs.BLOCK)
        for op in block:
            if op.kind == "insert":
                live.add(op.id)
                writes += 1
            elif op.kind == "delete":
                assert op.id in live
                live.remove(op.id)
                writes += 1
    n_compact = sum(op.kind == "compact" for b in blocks for op in b)
    assert n_compact == writes // 4


def test_table_warmup_leaves_the_rows_as_they_were():
    ops = inputs.table_warmup(3)
    n = inputs.WARM_SEARCHES
    assert [op.kind for op in ops] == ["search"] * n + ["insert", "delete", "compact"]
    assert ops[n].id == ops[n + 1].id == inputs.WARM_ID
    # the op stream never reaches the warm-up id
    ids = {op.id for b in itertools.islice(inputs.table_blocks(3, 50, 4), 50) for op in b}
    assert inputs.WARM_ID not in ids


def test_corpus_truth_matches_planted_families():
    c = inputs.corpus_batch(5, 0, 200, 0)
    fam_of = dict(zip(c.doc_ids.tolist(), c.family.tolist()))
    pairs = c.true_pairs()
    assert all(a < b and fam_of[a] == fam_of[b] for a, b in pairs)
    best = c.best_members()
    assert len(best) == len(set(c.family.tolist()))
    q = dict(zip(c.doc_ids.tolist(), c.quality.tolist()))
    for d in best:
        assert all(q[d] >= q[o] for o, f in fam_of.items() if f == fam_of[d])
    # near-duplicates share most words; unrelated documents share almost none
    texts = dict(zip(c.doc_ids.tolist(), c.texts))
    a, b = next(iter(pairs))
    assert len(set(texts[a].split()) & set(texts[b].split())) >= inputs.WORDS_PER_DOC - 10


def test_every_seed_asks_for_the_same_work():
    work = {
        (len(c.true_pairs()), len(c.best_members()))
        for c in (inputs.corpus_batch(seed, 0, 300, 0) for seed in (1, 2, 3))
    }
    assert len(work) == 1
    # the mixture's clusters are equal in size
    X = inputs.ann_corpus(4, 20 * inputs.N_CLUSTERS)[1]
    C = inputs._centres(4)
    nearest = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    assert np.bincount(nearest, minlength=inputs.N_CLUSTERS).tolist() == [20] * inputs.N_CLUSTERS


# -- interval arithmetic and attribution ----------------------------------------
def test_union_merges_overlapping_and_touching_intervals():
    assert merge([(3, 5), (0, 1), (1, 2), (4, 6)]) == [(0, 2), (3, 6)]
    # AQE jobs overlap: busy time is the union, not the sum
    assert union_length([(0, 4), (1, 3), (2, 5), (7, 8)]) == 6


def test_subtract_cuts_holes():
    assert subtract([(0, 10)], [(2, 3), (5, 7), (9, 12)]) == [(0, 2), (3, 5), (7, 9)]
    assert subtract([(0, 1)], [(0, 1)]) == []


def test_self_time_excludes_nested_and_overlapping_children():
    root = Span(0, "bench", "req", None, 1, 0.0, 10.0)
    kids = [
        Span(1, "api", "a", 0, 1, 1.0, 4.0),
        Span(2, "api", "b", 0, 1, 3.0, 5.0),  # overlaps its sibling
        Span(3, "api", "c", 0, 1, 8.0, 9.0),
    ]
    assert union_length(self_intervals(root, kids)) == pytest.approx(10 - 4 - 1)


def test_attribution_by_job_group():
    spans = [
        Span(0, "bench", "req", None, 0, 0.0, 10.0),
        Span(1, "operators.knn", "knn_auto", 0, 0, 1.0, 6.0),
        Span(2, "api", "search", None, 1, 11.0, 12.0),
    ]
    jobs = [
        Job(0, "perfbench-1", 1.5, 3.0, (0, 1)),
        Job(1, "perfbench-1", 2.5, 4.0, (1, 2)),  # stage 1 listed again: skipped
        Job(2, "perfbench-2", 11.2, 11.4, (3,)),
        Job(3, "other", 20.0, 21.0, (4,)),  # launched outside any span
    ]
    st = lambda sid, status="COMPLETE": Stage(sid, 0, status, 10 * sid, sid, 1, 100, 0)  # noqa: E731
    stages = [st(0), st(1), st(1, "SKIPPED"), st(2), st(3), st(4)]
    out = attribute(spans, jobs, stages)
    knn = out["operators.knn"]
    assert (knn.calls, knn.jobs, knn.stages) == (1, 2, 3)
    assert knn.self_s == pytest.approx(5.0)
    assert knn.job_busy_s == pytest.approx(2.5)  # union of [1.5,3] and [2.5,4]
    assert knn.driver_gap_s == pytest.approx(2.5)
    assert knn.shuffle_write_bytes == 30 and knn.result_bytes == 300
    assert out["bench"].self_s == pytest.approx(5.0)
    assert out["bench"].jobs == 0
    api = out["api"]
    assert (api.jobs, api.stages, api.driver_gap_s) == (1, 1, pytest.approx(0.8))


# -- percentiles -----------------------------------------------------------------
@pytest.mark.parametrize(
    "n, p", [(10, None), (19, None), (20, 50), (40, 75), (100, 90), (1000, 99)]
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p


def test_summarise_reports_median_tail_and_count():
    xs = list(range(100, 0, -1))
    s = summarise(xs)
    assert s == {"n": 100, "p50": 50.5, "tail_pct": 90, "tail": 90}
    assert nearest_rank(sorted(xs), 90) == 90
    assert summarise([3.0, 1.0])["tail"] is None


# -- the command -----------------------------------------------------------------
def test_run_fails_without_the_engine(tmp_path):
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__", "tests"),
    )
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "driver-paced", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode != 0 and r.stdout == ""
