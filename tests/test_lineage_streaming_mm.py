"""Domain lineage graph, streaming wrapper, and multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from regpulse_lakehouse_spark.operators import multimodal as MM
from regpulse_lakehouse_spark.operators.lineage import build_graph
from regpulse_lakehouse_spark.sources import fixtures


def _graph(spark):
    return build_graph(
        runs=fixtures.runs(spark),
        documents=fixtures.documents(spark),
        items=fixtures.regulation_items(spark),
        requirements=fixtures.requirements(spark),
        links=fixtures.links(spark),
    )


def test_lineage_nodes_and_placeholders(spark):
    g = _graph(spark)
    types = {r.node_type for r in g.nodes.select("node_type").distinct().collect()}
    assert {"run", "doc", "item", "req", "placeholder"} <= types
    # fixture links point at item-99xx ids that exist in no table → placeholders
    ph = g.nodes.filter(F.col("node_type") == "placeholder").count()
    assert ph > 0
    # every edge endpoint resolves to a node after placeholder synthesis
    endpoints = (
        g.edges.select(F.col("source").alias("id"))
        .union(g.edges.select("target"))
        .distinct()
    )
    unresolved = endpoints.join(g.nodes, "id", "left_anti").count()
    assert unresolved == 0


def test_lineage_edges_dedup_and_citations(spark):
    g = _graph(spark)
    n = g.edges.count()
    assert g.edges.dropDuplicates(["source", "relation", "target"]).count() == n
    assert g.edges.filter(F.col("relation") == "supported_by").count() > 0
    assert g.edges.filter(F.col("relation") == "extracted_from").count() > 0


def test_lineage_layout_dense_rows(spark):
    g = _graph(spark)
    per_type = (
        g.layout.groupBy("node_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("row_index").alias("max_row"))
        .collect()
    )
    for r in per_type:
        assert r.max_row == r.n - 1  # dense 0..n-1 row indexes per column


def test_stream_scan_availablenow(spark, tmp_path):
    src = tmp_path / "incoming"
    out = tmp_path / "out"
    chk = tmp_path / "chk"
    fixtures.documents(spark).write.mode("overwrite").parquet(str(src))

    from regpulse_lakehouse_spark.operators.delta_log import DeltaLogTable
    from regpulse_lakehouse_spark.streaming import stream_scan

    q = stream_scan(spark, str(src), str(out), str(chk))
    q.awaitTermination(120)
    main = DeltaLogTable(spark, str(out / "main_items")).read()
    review = DeltaLogTable(spark, str(out / "review_items")).read()
    assert main.count() > 0 and review.count() > 0
    # restart with no new files → no duplicate outputs (checkpointed)
    n_before = main.count()
    q2 = stream_scan(spark, str(src), str(out), str(chk))
    q2.awaitTermination(120)
    assert DeltaLogTable(spark, str(out / "main_items")).read().count() == n_before


def test_stream_scan_recrawl_wins_latest(spark, tmp_path):
    """A document delivered again in a later micro-batch, with new
    content, replaces its main item instead of adding a second row, and
    the links table keeps each five-tuple once."""
    from regpulse_lakehouse_spark.operators.delta_log import DeltaLogTable
    from regpulse_lakehouse_spark.streaming import stream_scan

    src, out, chk = tmp_path / "incoming", tmp_path / "out", tmp_path / "chk"
    docs = fixtures.documents(spark)
    docs.coalesce(1).write.parquet(str(src))
    stream_scan(spark, str(src), str(out), str(chk)).awaitTermination(120)
    main = DeltaLogTable(spark, str(out / "main_items"))
    n_main = main.read().count()
    item = main.read().orderBy("id").first()

    recrawled = docs.filter(F.col("id") == item["source_document_id"]).withColumn(
        "content", F.lit("urgent recrawled regulatory text")
    )
    recrawled.coalesce(1).write.mode("append").parquet(str(src))
    stream_scan(spark, str(src), str(out), str(chk)).awaitTermination(120)

    rows = main.read().filter(F.col("id") == item["id"]).collect()
    assert len(rows) == 1
    assert rows[0]["summary_1line"] == "urgent recrawled regulatory text"
    assert rows[0]["_refresh_version"] > item["_refresh_version"]
    assert main.read().count() == n_main
    five = ["from_type", "from_id", "to_type", "to_id", "relation"]
    links = DeltaLogTable(spark, str(out / "links")).read()
    assert links.count() == links.dropDuplicates(five).count()
    assert links.filter(F.col("to_id") == item["id"]).filter(
        F.col("relation") == "extracted_from"
    ).count() == 1


def test_stream_scan_replayed_batch_adds_nothing(spark, tmp_path):
    """A crash after the sink commits but before Spark records the
    micro-batch as done makes the restart re-deliver that batch under
    the same id. The replay must leave every output table as it was,
    the review queue included."""
    from regpulse_lakehouse_spark.operators.delta_log import DeltaLogTable
    from regpulse_lakehouse_spark.streaming import stream_scan

    src, out, chk = tmp_path / "incoming", tmp_path / "out", tmp_path / "chk"
    fixtures.documents(spark).write.parquet(str(src))
    stream_scan(spark, str(src), str(out), str(chk)).awaitTermination(120)

    def counts():
        return {
            name: DeltaLogTable(spark, str(out / name)).read().count()
            for name in ("main_items", "review_items", "links")
        }

    before = counts()
    assert before["review_items"] > 0
    commits = chk / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    for name in (str(last), f".{last}.crc"):
        (commits / name).unlink(missing_ok=True)

    stream_scan(spark, str(src), str(out), str(chk)).awaitTermination(120)
    assert (commits / str(last)).exists()  # the batch really ran again
    assert counts() == before


def test_multimodal_features_deterministic(spark):
    media = MM.synthetic_media(spark)
    f1 = sorted(tuple(r) for r in MM.extract_features(media).collect())
    f2 = sorted(tuple(r) for r in MM.extract_features(media).collect())
    assert f1 == f2
    assert all(len(r[2]) == 16 for r in f1)
    assert all(r[1] > 0 for r in f1)


def test_multimodal_metadata_plan_prunes_binary(spark, tmp_path):
    # column pruning is a columnar-source property: persist to parquet and
    # verify the metadata-only plan never reads the binary payload column
    path = str(tmp_path / "media")
    MM.synthetic_media(spark).write.mode("overwrite").parquet(path)
    media = spark.read.parquet(path)
    plan = MM.frame_sample_plan(media)._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan  # binary column pruned from metadata-only plan
    rows = MM.frame_sample_plan(media).collect()
    assert len(rows) > 0
