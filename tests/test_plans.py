"""Physical-plan evidence: the scans actually prune and push down.

At 100 TB a term query must not scan 64 bucket partitions or decode
non-matching blocks, and a doc-id projection must not read the text
column — these tests pin the plan shape, not just the results (the
explain-driven discipline SURVEY §4 commits to)."""

import pytest

from noise_spark.index.build import BuildConfig, build_index
from noise_spark.query import IndexReader


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


@pytest.fixture(scope="module")
def plan_reader(spark, tmp_path_factory):
    from noise_spark.corpus import generate_pages

    idx = str(tmp_path_factory.mktemp("plans") / "idx")
    pages = generate_pages(spark, 300, seed=42, partitions=4)
    build_index(spark, pages, idx, BuildConfig(block_size=64))
    return IndexReader(spark, idx)


def test_term_scan_pushes_filters_and_prunes_buckets(plan_reader):
    plan = _plan(plan_reader.postings_for(["w00001"]))
    # parquet-level pushdown of the term equality (dictionary/min-max
    # skip non-matching blocks inside each file)
    assert "PushedFilters" in plan
    assert "w00001" in plan.split("PushedFilters", 1)[1][:400]
    # hive-partition pruning on the term bucket: exactly one of 64
    # bucket dirs survives (PartitionFilters on the bucket column)
    after = plan.split("PartitionFilters", 1)
    assert len(after) == 2 and "bucket" in after[1][:200]


def test_docid_projection_prunes_text_column(plan_reader):
    plan = _plan(plan_reader.docs.select("doc_id"))
    # ReadSchema of the docs scan must not include the heavy text column
    read_schema = plan.split("ReadSchema", 1)[1][:200]
    assert "doc_id" in read_schema and "text" not in read_schema


def test_no_row_wise_python_in_scored_path(plan_reader):
    from noise_spark.query import plan as P

    plan = _plan(plan_reader.search(P.Or((P.Term("w00001"), P.Term("w00002"))), k=5))
    # Arrow-batched UDFs only (segment decode); never per-row Python
    assert "BatchEvalPython" not in plan


def test_exact_match_is_index_prefiltered(plan_reader):
    """ExactMatch must probe the postings index first and only verify
    ``text ==`` on the candidate semi-join — never a full doc-store
    scan (src/filters.rs:283-344; r3 VERDICT weak #2)."""
    from noise_spark.query import plan as P

    df = plan_reader._match_set(P.ExactMatch("w00001"))
    plan = _plan(df)
    # the stemmed literal reaches the segment scan as a pushed filter
    assert "PushedFilters" in plan
    assert "w00001" in plan.split("PushedFilters", 1)[1][:400]
    # verification joins candidates to the doc store (semi join), so the
    # doc-store text filter is applied post-join, not as a bare scan
    assert "LeftSemi" in plan


def test_exact_match_punctuation_literal(plan_reader):
    """A pure-punctuation literal still answers through the index probe
    (the analyzers emit a non-alpha fallback token, so it analyzes to
    >=1 token and prefilters like any other literal)."""
    from noise_spark.query import plan as P

    assert plan_reader._match_set(P.ExactMatch("!!! ???")).count() == 0


def test_exact_match_without_text_field_falls_back(spark, tmp_path):
    """An index that doesn't cover the 'text' field has nothing to
    probe for ExactMatch (text equality) — it must fall back to the
    doc-store scan, not probe the wrong field's postings (r4 review:
    probing the default field gave false negatives)."""
    import pandas as pd

    from noise_spark.index.build import BuildConfig, build_index
    from noise_spark.query import IndexReader
    from noise_spark.query import plan as P

    df = spark.createDataFrame(
        pd.DataFrame(
            [(0, "hello world", "en"), (1, "other text", "de")],
            columns=["doc_id", "text", "lang"],
        )
    )
    idx = str(tmp_path / "langidx")
    build_index(
        spark,
        df,
        idx,
        BuildConfig(
            analyzer="whitespace",
            doc_id_col="doc_id",
            fields=("lang",),
            extra_doc_cols=("text",),
        ),
    )
    r = IndexReader(spark, idx)
    got = [x["doc_id"] for x in r._match_set(P.ExactMatch("hello world")).collect()]
    assert got == [0]


def test_collation_order_rank_is_distributed(spark):
    """ft_collation_order's global rank must not use an unpartitioned
    Window (single-task row_number at scale); it uses the two-pass
    range-partition numbering (index/docids.py)."""
    from noise_spark.entry_queries import queries

    df = queries()["ft_collation_order"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Window" not in plan
    # the range shuffle over the collation key is the distributed rank
    assert "rangepartitioning" in plan.lower()


def test_ascending_score_order_is_single_takeordered(plan_reader):
    """`order score()` (reference default = ASC) must plan ONE small
    TakeOrderedAndProject over the unordered scored match set — not a
    full descending sort barrier followed by a re-sort."""
    from noise_spark.query.parser import run_query

    df = run_query(plan_reader, 'find {text: ~= "w00001"} order score() limit 3')
    plan = _plan(df)
    physical = plan.split("== Physical Plan ==", 1)[-1]
    assert physical.count("TakeOrderedAndProject") == 1
    # no global all-rows Sort stage beyond the top-k operator
    assert "Sort [" not in physical


def test_tombstone_antijoin_broadcasts(spark, tmp_path):
    """Below BROADCAST_TOMBSTONES_MAX the tombstone anti-join must plan
    a BroadcastHashJoin (map-side filter of the decoded postings) — not
    a shuffled join left to AQE's runtime estimate."""
    from noise_spark.corpus import generate_pages
    from noise_spark.index.incremental import delete_docs
    from noise_spark.query import IndexReader

    idx = str(tmp_path / "tomb")
    pages = generate_pages(spark, 200, seed=42, partitions=4)
    build_index(spark, pages, idx, BuildConfig(block_size=64))
    reader = IndexReader(spark, idx)
    delete_docs(spark, idx, reader.docs.limit(10).select("url"))
    reader = IndexReader(spark, idx)
    assert reader._n_tombstones == 10
    plan = _plan(reader.postings_for(["w00001"]))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_search_many_shares_one_segment_scan(plan_reader):
    """The batched flat-query set must decode segments in ONE shared
    scan (r4 VERDICT item 6): a 3-query batch plans exactly one
    mapInPandas postings decode + one broadcast weights join — not one
    scan per query."""
    from noise_spark.query import plan as P

    qs = {
        "a": P.Or((P.Term("w00001"), P.Term("w00002"))),
        "b": P.And((P.Term("w00001"), P.Term("w00003"))),
        "c": P.Or((P.Term("w00002"),)),
        # flat-armed NOT rides the same scan (weightless neg markers)
        "d": P.Not(P.Term("w00001"), P.Term("w00002")),
    }
    df = plan_reader.search_many(qs, k=5)
    # count in the PHYSICAL plan only (queryExecution().toString()
    # repeats every node once per plan phase)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert physical.count("MapInPandas") == 1, physical[:2000]
    # r6: the per-query weights fan out via a literal map + explode —
    # no lookup-table join of ANY kind remains in the batched plan
    assert "Generate explode" in physical
    assert "BroadcastHashJoin" not in physical


def test_search_many_positional_shares_one_scan(plan_reader):
    """A batch with positional queries plans a CONSTANT number of
    decodes regardless of Q: one flat postings decode + one positional
    decode + one Arrow verify = exactly 3 MapInPandas for a mixed
    4-query batch (not one scan per query)."""
    from noise_spark.query import plan as P

    qs = {
        "f1": P.Or((P.Term("w00001"), P.Term("w00002"))),
        "f2": P.And((P.Term("w00001"), P.Term("w00003"))),
        "p1": P.Phrase(("w00001", "w00002")),
        "p2": P.Proximity(("w00002", "w00003"), window=5),
    }
    df = plan_reader.search_many(qs, k=5)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert physical.count("MapInPandas") == 3, physical[:2000]
    # r6: literal-map fan-out on both shared scans — join-free
    assert "BroadcastHashJoin" not in physical


def test_whole_doc_return_projects_all_doc_columns(plan_reader):
    """`return .` projects every doc-store column through ONE join to
    the match set — no per-column joins, no extra exchanges."""
    from noise_spark.query.parser import run_query

    df = run_query(plan_reader, 'find {lang: == "de"} return . limit 3')
    assert df.columns[0] == "doc_id"
    assert set(df.columns) == set(plan_reader.docs.columns)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan


def test_return_payload_joins_after_limit(plan_reader):
    """With a limit, RETURN-only doc fields join AFTER the top-k: the
    sort compares (doc_id, score, order keys), never the payload — in
    the optimized plan the payload LeftOuter join is the PARENT of
    GlobalLimit (the reference fetches return values per emitted row,
    src/returnable.rs). Order-key fields still ride the sort."""
    from noise_spark.query.parser import run_query

    df = run_query(
        plan_reader,
        'find {text: ~= "w00000"} order score() desc '
        "return {u: .url, t: .text} limit 5",
        default_k=None,
    )
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert "GlobalLimit" in p and "Join Inner" in p
    # parents print first: the deferred payload join appears above the limit
    assert p.index("Join Inner") < p.index("GlobalLimit"), p[:1500]
    # the k-row side broadcasts; the doc store is never shuffled for it
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys and "SortMergeJoin" not in phys
    # without a limit nothing is deferred — single pre-join, no re-sort
    df2 = run_query(
        plan_reader,
        'find {text: ~= "w00000"} order score() desc return {u: .url}',
        default_k=None,
    )
    p2 = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "GlobalLimit" not in p2


def test_flat_or_scores_without_mask(plan_reader):
    """A disjunction of positive terms matches every posting its scan
    reaches, so the scored aggregate carries no bit column, no
    ``bit_or`` mask and no Filter on top (q_or2). The only Filter left
    is the scan's own pushed term lookup, below the exchange."""
    from noise_spark.query import plan as P

    df = plan_reader.search(P.Or((P.Term("w00001"), P.Term("w00002"))), k=5)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "bit_or" not in physical
    above_scan = physical.split("Exchange", 1)[0]
    assert "Filter" not in above_scan, physical


def test_reader_reuses_snapshot_relations(plan_reader, monkeypatch):
    """After one warm-up query, no query path reads parquet again: the
    docs, segments and term_stats relations (and their directory
    listings) are resolved once per reader, not once per query."""
    from pyspark.sql import DataFrameReader

    from noise_spark.query import plan as P

    reader = IndexReader(plan_reader.spark, plan_reader.cat.root)
    reader.search(P.Term("w00001"), k=3).collect()
    reader.docs.select("doc_id").limit(1).collect()
    calls = []
    real = DataFrameReader.parquet

    def counting(self, *paths, **kw):
        calls.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    reader.query(P.Or((P.Term("w00002"), P.Term("w00003"))), k=3).collect()
    assert calls == [], "WAND query"
    reader.search(P.Not(P.Term("w00001"), P.Term("w00004")), k=3).collect()
    assert calls == [], "exhaustive search"
    assert reader.term_dfs(["w00005", "w00006"])
    assert calls == [], "term_dfs of new terms"
    reader.search_many(
        {
            "a": P.Or((P.Term("w00007"), P.Term("w00001"))),
            "b": P.Phrase(("w00001", "w00002")),
        },
        k=3,
    ).collect()
    assert calls == [], "search_many"


def _open_without_jobs(spark, index_dir: str, group: str) -> IndexReader:
    sc = spark.sparkContext
    sc.setJobGroup(group, "reader open")
    try:
        reader = IndexReader(spark, index_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert sc.statusTracker().getJobIdsForGroup(group) == [], group
    return reader


def test_reader_open_runs_no_spark_job(plan_reader, tmp_path):
    """Opening a reader runs no Spark job, with or without tombstones:
    corpus stats are read on the driver, tombstone counts come from the
    committed lineage, and every table relation (tombstones included) is
    resolved lazily, on first use. The lazily opened tombstones still
    exclude the deleted docs from the doc store and from WAND."""
    from pyspark.sql import functions as F

    from noise_spark.corpus import generate_pages
    from noise_spark.index.incremental import delete_docs
    from noise_spark.query import plan as P

    spark = plan_reader.spark
    reader = _open_without_jobs(spark, plan_reader.cat.root, "open_plain")
    assert reader.n_docs == 300

    idx = str(tmp_path / "deleted")
    build_index(spark, generate_pages(spark, 200, seed=42, partitions=4), idx, BuildConfig(block_size=64))
    victims = IndexReader(spark, idx).docs.filter(F.col("doc_id") % 4 == 0).select("url")
    assert delete_docs(spark, idx, victims)["deleted"] == 50
    reader = _open_without_jobs(spark, idx, "open_deleted")
    assert reader.n_docs == 150
    docs = {r["doc_id"] for r in reader.docs.select("doc_id").collect()}
    assert docs == {d for d in range(200) if d % 4}
    top = reader.query(P.Or((P.Term("w00000"), P.Term("w00001"))), k=20).collect()
    assert len(top) == 20 and all(r["doc_id"] % 4 for r in top)
