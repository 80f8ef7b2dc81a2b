"""Golden pipeline tests over the deterministic domain fixtures
(SURVEY.md §5.2) — scan/merge routing, link sets, summary rollups."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from regpulse_lakehouse_spark.pipelines import (
    ColumnExtractor,
    PandasExtractor,
    run_merge,
    run_scan,
)
from regpulse_lakehouse_spark.sources import fixtures


@pytest.fixture(scope="module")
def docs(spark):
    return fixtures.documents(spark).cache()


@pytest.fixture(scope="module")
def items(spark):
    return fixtures.regulation_items(spark).cache()


def test_scan_routing_golden(spark, docs):
    result = run_scan(docs, run_id="run-test", days_window=365 * 50)
    summary = result.summary.collect()[0]
    n_main = result.main_items.count()
    n_review = result.review_items.count()
    assert summary.discovered == n_main + n_review
    assert summary.accepted == n_main
    assert summary.review == n_review
    # fixture guarantees: URL dups removed, both routes populated
    assert n_main > 0 and n_review > 0
    # every main item is TIER_A and violation-free
    bad = result.main_items.filter(
        (F.col("trust_tier") != "TIER_A_BINDING") | (F.size("violations") > 0)
    ).count()
    assert bad == 0


def test_scan_first_wins_dedup(spark, docs):
    result = run_scan(docs, run_id="r", days_window=365 * 50)
    # canonical URLs are unique post-dedup, and the survivor is the
    # earliest arrival_seq of its group
    dups = (
        result.documents.groupBy("canonical_url").count().filter(F.col("count") > 1)
    ).count()
    assert dups == 0
    survivors = {r.canonical_url: r.arrival_seq for r in result.documents.collect()}
    from regpulse_lakehouse_spark.pipelines.scan import dedupe_first_wins_by_url

    all_canon = dedupe_first_wins_by_url(docs).select("canonical_url", "arrival_seq")
    for row in all_canon.collect():
        assert survivors.get(row.canonical_url, row.arrival_seq) <= row.arrival_seq


def test_scan_date_window_nulls_pass(spark, docs):
    result = run_scan(docs, run_id="r", days_window=30)
    # null published_date docs must survive the window filter (F4)
    n_null = result.documents.filter(F.col("published_date").isNull()).count()
    assert n_null > 0


def test_extractors_agree(spark, docs):
    col_items = ColumnExtractor().extract(docs).orderBy("id")
    pd_items = PandasExtractor().extract(docs).orderBy("id")
    a = [tuple(r) for r in col_items.collect()]
    b = [tuple(r) for r in pd_items.collect()]
    # same ids, confidences, topics from both implementations
    assert [r[0] for r in a] == [r[0] for r in b]
    for ra, rb in zip(a, b):
        assert ra[7] == rb[7], "confidence mismatch between extractor impls"
        assert sorted(ra[6]) == sorted(rb[6]), "topics mismatch"


def test_scan_links_shape(spark, docs):
    result = run_scan(docs, run_id="run-x", days_window=365 * 50)
    links = result.links
    rel = {r.relation for r in links.select("relation").distinct().collect()}
    assert {"produced", "extracted_from", "queued_for_review"} <= rel
    # 5-tuple dedup holds
    n = links.count()
    assert (
        links.dropDuplicates(["from_type", "from_id", "to_type", "to_id", "relation"]).count()
        == n
    )


def test_merge_argmax_and_gating(spark, items):
    result = run_merge(items, run_id="mr")
    inferred = {r.jurisdiction: r for r in result.inferred.collect()}
    # fixture has TIER_A items in EU → inferred tier must be the argmax
    assert inferred["EU"].inferred_tier == "TIER_A_BINDING"
    # requirements exist only for TIER_A jurisdictions
    req_jur = {
        r.jurisdiction
        for r in result.radar.join(
            result.requirements.select(F.col("source_item_id")), "source_item_id", "left_semi"
        ).select("jurisdiction").distinct().collect()
    }
    tier_a_jur = {j for j, r in inferred.items() if r.inferred_tier == "TIER_A_BINDING"}
    assert req_jur <= tier_a_jur


def test_merge_cross_join_cardinality(spark, items):
    result = run_merge(items, run_id="mr", jurisdiction="EU")
    # links carry a unique 5-tuple constraint (schema.sql:101-102), so the
    # cross product is over *distinct* item ids
    n_items = (
        items.filter(F.col("jurisdiction") == "EU").select("id").distinct().count()
    )
    n_reqs = result.requirements.count()
    mapped = result.links.filter(F.col("relation") == "mapped_to").count()
    assert mapped == n_items * n_reqs  # faithful cross product (merge.ts:147-158)


def test_merge_radar_is_deterministic(spark, items):
    r1 = sorted(tuple(r) for r in run_merge(items, run_id="a").radar.collect())
    r2 = sorted(tuple(r) for r in run_merge(items, run_id="b").radar.collect())
    assert r1 == r2


def test_radar_relational_impl_matches_pandas(spark, items):
    """The 100 TB form of the deterministic X2 merger (pure
    aggregation) must be row-identical to the grouped-pandas seam."""
    from regpulse_lakehouse_spark.pipelines.merge import radar_coverage

    def canon(df):
        return sorted(
            (r.jurisdiction, r.requirement_family, tuple(r.markets),
             r.evidence_status, r.priority, r.source_item_id, r.n_items)
            for r in df.collect()
        )

    a = canon(radar_coverage(items))
    b = canon(radar_coverage(items, impl="relational"))
    assert a == b and len(a) > 0

    import pytest

    with pytest.raises(ValueError, match="impl"):
        radar_coverage(items, impl="bogus")


def _collected(result):
    """Every scan output table as a sorted list of row reprs, each
    through a fresh plan (collecting the same DataFrame again would
    reuse its shuffle files instead of reading the input)."""
    return {
        name: sorted(str(r) for r in getattr(result, name).select("*").collect())
        for name in ("main_items", "review_items", "links", "summary")
    }


def test_scan_outputs_survive_deleting_the_candidates(spark, docs, tmp_path):
    """run_scan evaluates the batch once: its output tables are
    projections over materialized rows, so they no longer read the
    candidates' files."""
    import shutil

    src = str(tmp_path / "candidates")
    docs.write.parquet(src)
    result = run_scan(spark.read.parquet(src), run_id="run-m", days_window=365 * 50)
    before = _collected(result)
    shutil.rmtree(src)
    assert _collected(result) == before
    assert before["main_items"] and before["review_items"] and before["links"]


LINK_KEYS = ["from_type", "from_id", "to_type", "to_id", "relation"]

#: Spark jobs of the second governed batch in
#: test_governed_batch_job_budget (the first creates the tables)
BATCH_JOB_BUDGET = 15


def test_governed_batch_job_budget(spark, docs, tmp_path):
    """Two governed batches (scan → main upsert, review append, links
    insert-if-absent) under one job group: the second, which takes the
    MERGE paths, stays within the job budget. A lazily re-planned scan
    DAG or a separate key-bounds job shows up here as extra jobs."""
    from regpulse_lakehouse_spark.operators.delta_log import DeltaLogTable

    sc = spark.sparkContext
    tables = {
        name: DeltaLogTable(spark, str(tmp_path / name), checkpoint_interval=None)
        for name in ("main", "review", "links")
    }

    def batch(b: int) -> None:
        res = run_scan(docs, run_id=f"run-{b}", days_window=365 * 50)
        tables["main"].upsert(res.main_items.withColumn("_v", F.lit(b)), ["id"], "_v")
        tables["review"].append(res.review_items)
        tables["links"].insert_if_absent(res.links, LINK_KEYS)

    def jobs(group: str) -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    group = "governed-batch-budget"
    sc.setJobGroup(group, "two governed batches")
    try:
        batch(0)
        first = jobs(group)
        batch(1)
        second = jobs(group) - first
    finally:
        sc._jsc.clearJobGroup()
    assert second <= BATCH_JOB_BUDGET, f"{second} jobs (budget {BATCH_JOB_BUDGET})"
    assert tables["main"].read().count() == run_scan(
        docs, run_id="run-1", days_window=365 * 50
    ).main_items.count()


#: py4j round trips of a warm run_scan (the second call in a session on
#: the fixture documents). The constant column programs come from the
#: session's memo, so what is left is the per-batch DataFrame calls
#: (200-400); rebuilding the programs on every call costs ~4,800. py4j's
#: garbage-collection detach messages make the count vary a little.
SCAN_ROUND_TRIP_BUDGET = 600


def test_warm_scan_round_trip_budget(spark, docs, monkeypatch):
    from py4j.clientserver import ClientServerConnection

    run_scan(docs, run_id="warm-0", days_window=365 * 50)
    send = ClientServerConnection.send_command
    sent = []

    def counting(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    run_scan(docs, run_id="warm-1", days_window=365 * 50)
    monkeypatch.undo()
    assert 0 < len(sent) <= SCAN_ROUND_TRIP_BUDGET, f"{len(sent)} py4j round trips"


def _window_ids(docs, days: int) -> list[str]:
    from regpulse_lakehouse_spark.pipelines.scan import (
        dedupe_first_wins_by_url,
        filter_date_window,
    )

    return sorted(
        r.id for r in filter_date_window(dedupe_first_wins_by_url(docs), days).collect()
    )


def test_scan_memo_is_keyed_by_the_date_window(spark, docs):
    short, long_ = _window_ids(docs, 30), _window_ids(docs, 365 * 50)
    assert short != long_
    for days, want in ((30, short), (365 * 50, long_), (30, short)):
        got = run_scan(docs, run_id="r", days_window=days).documents.collect()
        assert sorted(r.id for r in got) == want, days


def test_scan_memo_is_keyed_by_the_tier_map(spark, docs):
    def tiers(tier_map):
        res = run_scan(docs, run_id="r", days_window=365 * 50, tier_for_profile=tier_map)
        docs_tiers = {r.id: r.trust_tier for r in res.documents.collect()}
        return docs_tiers, res.main_items.count()

    default_tiers, default_main = tiers(None)
    all_b = {f"profile_{i}": "TIER_B_OFFICIAL" for i in range(3)}
    b_tiers, b_main = tiers(all_b)
    assert default_main > 0 and b_main == 0
    assert set(b_tiers.values()) == {"TIER_B_OFFICIAL"}
    assert tiers(None) == (default_tiers, default_main)


def test_scan_after_cleanup_rebuilds_its_programs(spark, docs):
    import regpulse_lakehouse_spark
    from regpulse_lakehouse_spark.pipelines import scan

    before = _collected(run_scan(docs, run_id="run-c", days_window=365 * 50))
    assert scan._PROGRAMS
    regpulse_lakehouse_spark.cleanup()
    assert not scan._PROGRAMS
    assert _collected(run_scan(docs, run_id="run-c", days_window=365 * 50)) == before


def test_scan_calls_a_custom_extractor_on_every_batch(spark, docs):
    """Only a plain ColumnExtractor's projection is memoized; any other
    extractor, a subclass included, is called on every batch."""
    calls = []

    class Counting(ColumnExtractor):
        def extract(self, documents):
            calls.append(documents)
            return super().extract(documents)

    plain = _collected(run_scan(docs, run_id="run-e", days_window=365 * 50))
    for _ in range(2):
        res = run_scan(docs, run_id="run-e", days_window=365 * 50, extractor=Counting())
    assert len(calls) == 2
    assert _collected(res) == plain
