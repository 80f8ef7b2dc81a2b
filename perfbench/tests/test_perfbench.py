"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import sys
import threading
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import browse  # noqa: E402
import gen  # noqa: E402
import ingest  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _files(d: str) -> list[str]:
    return [os.path.join(d, f) for f in os.listdir(d)]


# -- BENCHMARK.json and metric names ------------------------------------------


def test_the_repo_spec_is_valid():
    spec = metrics.load_spec()
    assert [w["name"] for w in spec["workloads"]] == ["browse", "ingest"]
    per_layer = {m["name"] for m in spec["per_layer"]}
    assert {f"browse.row.{r}_s" for r, _ in browse.ROWS} <= per_layer


@pytest.mark.parametrize(
    "name", ["_lead", "has space", "x" * 65, "", "a/b", "ünï"],
)
def test_bad_metric_names_are_refused(name):
    spec = metrics.load_spec()
    spec["per_layer"][0]["name"] = name
    assert any("bad name" in e for e in metrics.validate_spec(spec))


def test_duplicate_names_bounds_and_setup_are_checked():
    base = metrics.load_spec()
    dup = copy.deepcopy(base)
    dup["per_layer"][1]["name"] = dup["end_to_end"][0]["name"]
    assert any("used twice" in e for e in metrics.validate_spec(dup))
    loose = copy.deepcopy(base)
    loose["end_to_end"][1]["bound"] = 0.3
    assert any("bound" in e for e in metrics.validate_spec(loose))
    no_setup = copy.deepcopy(base)
    no_setup["end_to_end"] = [m for m in no_setup["end_to_end"] if m["name"] != "setup_s"]
    assert any("setup_s" in e for e in metrics.validate_spec(no_setup))
    extra = copy.deepcopy(base)
    extra["notes"] = "x"
    assert metrics.validate_spec(extra)
    bad_cmd = copy.deepcopy(base)
    bad_cmd["command"] = ["python3", "../outside.py"]
    assert metrics.validate_spec(bad_cmd)


# -- percentiles --------------------------------------------------------------


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert metrics.percentile(xs, 50) == 3.0
    assert metrics.percentile(xs, 75) == 4.0
    assert metrics.percentile(xs, 90) == pytest.approx(4.6)
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


@pytest.mark.parametrize(
    "n, p", [(1000, 95), (200, 95), (199, 94), (100, 90), (40, 75), (20, 50), (19, None), (0, None)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, p):
    assert metrics.tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= metrics.TAIL_SAMPLES


def test_tail_reports_the_percentile_it_used():
    xs = [float(i) for i in range(30)]
    assert metrics.tail(xs) == (66, pytest.approx(metrics.percentile(xs, 66)))
    assert metrics.tail([1.0]) == (None, 0.0)


# -- correctness tally ----------------------------------------------------------


def test_an_injected_wrong_browse_answer_counts_as_failed():
    rows = [(1, "a", 2.5), (2, "b", None)]
    expected = {"t4_t6_topk_limits": browse.canon(rows)}
    tally = metrics.Tally()
    tally.record("ok", browse.answer_ok("t4_t6_topk_limits", list(reversed(rows)), expected, {}))
    wrong = [(1, "a", 2.5), (2, "b", 0.0)]
    tally.record("wrong", browse.answer_ok("t4_t6_topk_limits", wrong, expected, {}))
    out = tally.result({"latency_p50_s": (0.5, "s")})
    assert (out["correct"], out["attempted"], out["failed"]) == (False, 2, 1)
    assert out["metrics"] == {"latency_p50_s": {"value": 0.5, "unit": "s"}}
    assert tally.failures == ["wrong"]


def test_a_missed_planted_cluster_fails_the_duplicate_report():
    truth = {"dup_groups": [[1, 4], [2, 5, 7]]}
    got = [{"n_copies": 2}, {"n_copies": 3}, {"n_copies": 1}]
    expected = {"dd_exact_dedup": browse.canon(got)}
    assert browse.answer_ok("dd_exact_dedup", got, expected, truth)
    assert not browse.answer_ok("dd_exact_dedup", got, expected, {"dup_groups": [[1, 4]]})


def test_the_ingest_replay_flags_a_wrong_table(tmp_path):
    import datetime as dt

    paths = gen.write_ingest_batches(str(tmp_path), seed=3, n_batches=2, batch_size=200)
    replay = ingest.Replay()
    today = dt.date(2026, 10, 1)
    n_main = [replay.apply(p, b, f"run-{b}", today) for b, p in enumerate(paths)]
    assert all(n > 0 for n in n_main)
    # re-crawled documents overwrite: later batches win
    assert {b for _, _, b in replay.main.values()} == {0, 1}
    assert replay.review > 0 and replay.links
    seen = {"main": dict(replay.priorities()), "review": replay.review, "links": len(replay.links)}
    assert replay.matches(seen)
    for key, bump in (("review", 1), ("links", -1)):
        assert not replay.matches({**seen, key: seen[key] + bump})
    assert not replay.matches({**seen, "main": {**seen["main"], "P2": seen["main"].get("P2", 0) + 1}})


def test_the_replay_dedups_tracking_variants_first_arrival_wins():
    assert ingest.canonical_url("https://x.org/doc/1?utm_source=feed") == "https://x.org/doc/1"
    assert ingest.canonical_url("https://x.org/doc/1/?a=1&utm_x=2") == "https://x.org/doc/1/?a=1"
    assert ingest.canonical_url("https://x.org/doc/1/") == "https://x.org/doc/1"


# -- spans ----------------------------------------------------------------------


def test_spans_nest_and_self_time_excludes_children(tmp_path):
    tr = tracing.Tracer()
    tr.request = 7
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            with tr.span("leaf"):
                pass
        with tr.span("inner"):
            pass
    with tr.span("after"):
        pass
    by_name = Counter(s.name for s in tr.spans)
    assert by_name == {"outer": 1, "inner": 2, "leaf": 1, "after": 1}
    parents = {s.name: s.parent for s in tr.spans}
    assert parents["outer"] is None and parents["after"] is None
    assert inner.parent == outer.id and parents["leaf"] == inner.id
    assert all(s.request == 7 for s in tr.spans)
    assert all(s.start <= s.end for s in tr.spans)
    self_t = tracing.self_time_samples(tr.spans)
    total = sum(s.end - s.start for s in tr.spans if s.parent is None)
    assert sum(map(sum, self_t.values())) == pytest.approx(total, abs=1e-6)
    path = tmp_path / "t" / "spans.json"
    tr.dump(str(path), {"workload": "x"})
    dumped = json.loads(path.read_text())
    assert dumped["meta"] == {"workload": "x"} and len(dumped["spans"]) == 5


def test_self_time_of_synthetic_spans():
    S = tracing.Span
    spans = [
        S(0, "batch", 0.0, 10.0, None, 1),
        S(1, "upsert", 1.0, 4.0, 0, 1),
        S(2, "read", 3.0, 6.0, 0, 1),  # overlaps upsert: the union counts once
        S(3, "plan", 1.5, 2.0, 1, 1),
    ]
    got = tracing.self_time_samples(spans + [S(4, "read", 11.0, 12.0, None, 2)])
    assert got == {"batch": [5.0], "upsert": [2.5], "read": [3.0, 1.0], "plan": [0.5]}


def test_spans_on_other_threads_do_not_nest_under_this_one():
    tr = tracing.Tracer()
    with tr.span("main"):
        t = threading.Thread(target=lambda: tr.span("worker").__enter__())
        t.start()
        t.join()
    assert {s.name: s.parent for s in tr.spans} == {"main": None, "worker": None}


def test_null_tracer_records_nothing():
    tr = tracing.NullTracer()
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_peak_rss_reads_this_process():
    rss = tracing.PeakRss()
    rss.sample()
    assert rss.mb() > 1


# -- the generator ----------------------------------------------------------------


def test_catalog_same_seed_same_bytes_other_seed_other_data(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    ta = gen.write_catalog(a, seed=5, sf=0.002)
    gen.write_catalog(b, seed=5, sf=0.002)
    gen.write_catalog(c, seed=6, sf=0.002)
    assert _digest(_files(a)) == _digest(_files(b))
    for name in ("orders.parquet", "documents.parquet", "embeddings.parquet"):
        with open(os.path.join(a, name), "rb") as x, open(os.path.join(c, name), "rb") as y:
            assert x.read() != y.read()
    assert set(ta["rows"]) == set(browse.TABLES)
    assert ta["dup_groups"] and all(len(g) > 1 for g in ta["dup_groups"])


def test_planted_clusters_are_in_the_data(tmp_path):
    import pyarrow.parquet as pq

    truth = gen.write_catalog(str(tmp_path), seed=9, sf=0.004)
    texts = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        groups.setdefault(t, []).append(i)
    assert sorted(g for g in groups.values() if len(g) > 1) == truth["dup_groups"]
    labels = pq.read_table(tmp_path / "embeddings.parquet").column("label").to_pylist()
    assert labels == truth["labels"].tolist() and len(set(labels)) > 1


def test_ingest_batches_are_seeded(tmp_path):
    a = gen.write_ingest_batches(str(tmp_path / "a"), seed=1, n_batches=3, batch_size=100)
    b = gen.write_ingest_batches(str(tmp_path / "b"), seed=1, n_batches=3, batch_size=100)
    c = gen.write_ingest_batches(str(tmp_path / "c"), seed=2, n_batches=3, batch_size=100)
    assert _digest(a) == _digest(b) != _digest(c)
    import pyarrow.parquet as pq

    t1 = pq.read_table(a[1]).to_pandas()
    assert len(t1) == 100
    # tracking-parameter variants of earlier arrivals, and re-crawls of batch 0
    assert t1["url"].str.contains("utm_").sum() == 10
    first_ids = set(pq.read_table(a[0]).column("id").to_pylist())
    assert len(first_ids & set(t1["id"])) > 0
