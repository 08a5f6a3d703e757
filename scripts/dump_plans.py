"""Regenerate PLANS.md: formatted physical plans of representative
queries with the scale property each plan is expected to exhibit.
Run:  python scripts/dump_plans.py  (writes PLANS.md at the checkout root)
"""

from __future__ import annotations

import sys
from pathlib import Path

# the checkout owning this script, so a copy checks its own code
REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry  # noqa: E402
from social_media_etl_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

# query key → the property a reviewer should verify in the plan
SHOWCASE = {
    "q1_pricing_summary": (
        "Scan-level filter pushdown (`PushedFilters` on l_shipdate), "
        "7-of-16-column `ReadSchema`, map-side partial aggregation "
        "before the single exchange."
    ),
    "q3_top_revenue_orders": (
        "Filtered customer dimension broadcasts (`BroadcastHashJoin`); "
        "segment predicate pushed into the customer scan; only the "
        "fact-fact join shuffles."
    ),
    "blog_a_most_active": (
        "The right outer join on a non-key attribute is decomposed into "
        "broadcast-inner ∪ unmatched-winners: no `SortMergeJoin`, the "
        "parent table never shuffles on the join attribute."
    ),
    "asof_purchase_last_click": (
        "As-of join lowered to union + key-partitioned window "
        "(`Window`, single exchange on user_id) — no join node of "
        "left×right rows anywhere."
    ),
    "embedding_neardup": (
        "All-pairs cosine runs as a block-level join + Arrow-batched "
        "matmul (`MapInPandas` over grouped block rows) — no row-level "
        "nested-loop join of vectors."
    ),
    "dedup_minhash_lsh": (
        "MinHash signatures via partial-min hash aggregate "
        "(`partial_min`, shuffle carries signatures not shingles); "
        "banded bucket equi-join generates candidates."
    ),
    "range_join_quantity_bands": (
        "Non-equi range predicate joins against a broadcast dimension "
        "(`BroadcastNestedLoopJoin`), never a cartesian shuffle."
    ),
    "q7_nation_trade": (
        "Double-dimension (nation twice under aliases) snowflake: every "
        "dimension broadcasts with its name filter applied pre-join; the "
        "only big shuffle is lineitem⨝orders on orderkey."
    ),
    "full_outer_balance_bands": (
        "Both sides pre-aggregated before the full outer join (which "
        "cannot broadcast — unmatched rows survive on both sides), so "
        "the unbroadcastable join runs over two tiny frames."
    ),
    "bpe_pair_counts": (
        "Adjacent-token pairs built ARRAY-side (transform over "
        "sequence) — one explode, one `partial_count` hash aggregate "
        "before the single exchange, text-only `ReadSchema`; no window "
        "over a per-doc sort and no position self-join."
    ),
    "embedding_label_centroids": (
        "Dimension-wise centroids via posexplode + `partial_avg` "
        "map-side combine — one exchange keyed (label, pos), scan "
        "prunes to label+embedding, no UDF and no driver-side matrix."
    ),
    "pack_training_sequences": (
        "Sharded greedy packing: md5-derived shard id feeds ONE "
        "`FlatMapGroupsInPandas` (Arrow-batched, sequential fill per "
        "shard) after a single exchange on shard — the engine-portable "
        "layout the DuckDB oracle replays per shard."
    ),
    "user_retention_cohorts": (
        "Cohort agg and activity distinct each collapse events with "
        "map-side partial aggregation before their one user_id "
        "exchange; the per-user cohort frame then BROADCASTS onto the "
        "activity side (at 100 TB both sides are already hash-"
        "partitioned on user_id, so the fallback SMJ reuses those "
        "exchanges); final agg keys on weeks×offsets."
    ),
    "table_profile_orders_approx": (
        "HLL profile: `partial_approx_count_distinct` map-side combine "
        "(constant-size sketch per column) in one pass; the exact twin "
        "feeds both output and gate from one persisted frame — "
        "single-partition exchanges are scalar gates only."
    ),
    "importance_sampling": (
        "Weighted Bernoulli sampling as a PURE md5-expression filter: "
        "zero exchanges (final tiny sort aside), no RNG state, scan "
        "prunes the doc text — one pass at any scale."
    ),
    "funnel_conversion": (
        "Ordered-step funnel: three chained window mins share ONE "
        "user_id exchange (partition reuse across the window chain); "
        "the only single-partition exchange is the scalar rollup."
    ),
    "formats_roundtrip": (
        "ORC+CSV certification joins key on null-safe EQUALITY of "
        "every column — hash-based equi-joins (`SortMergeJoin`/"
        "`BroadcastHashJoin`), never a nested-loop fallback; the "
        "aggregate partial-combines before its exchange."
    ),
    "smoothed_mixture_sample": (
        "α-smoothed source mixing: the per-source rates come from one "
        "tiny count aggregate (partial-combined, then a single-row min "
        "anchor) broadcast back — the corpus side shows a "
        "`BroadcastHashJoin` and NO exchange of its own; the md5 "
        "acceptance is a pure codegen'd expression filter."
    ),
    "kmeans_embeddings": (
        "Distributed Lloyd's: centroids enter each assignment as a "
        "`BroadcastNestedLoopJoin` against a k-row frame (never a "
        "shuffled cartesian); the argmin is a partial-combined "
        "min-struct `HashAggregate` keyed on the vector id; the update "
        "is one (cluster, pos) exchange. Prior iterations appear as "
        "`InMemoryTableScan` — persisted, not recomputed."
    ),
    "ks_drift_events": (
        "Two-level ECDF: the per-value window runs PARTITIONED by "
        "bucket (parallel); the only single-partition step is the "
        "256-row bucket-offset cumsum and the final scalar max — a "
        "naive global-order window over every distinct value never "
        "appears."
    ),
    "duplicate_span_fraction": (
        "Span stream and span counts meet in a join keyed on the SAME "
        "column the aggregate grouped on — co-keyed exchanges, no "
        "re-shuffle of the heavy side; spans are built array-side "
        "(`transform`+`slice` inside codegen), not via a position "
        "self-join."
    ),
}


def _mor_read_plan(spark, sf):
    """The DV-applied snapshot read itself (the graded key's OUTPUT
    reads the post-OPTIMIZE layout, where vectors are already
    compacted — the interesting plan is the one BEFORE compaction)."""
    import tempfile

    from pyspark.sql import functions as F

    from social_media_etl_spark.catalog import load_table
    from social_media_etl_spark.operators.manifest import VersionedTable

    d = tempfile.mkdtemp(prefix="smetl_planmor_")
    events = load_table(spark, sf, "events").select(
        "event_id", "event_type", "value"
    )
    t = VersionedTable.create(
        spark, f"{d}/t", events.repartitionByRange(8, "event_id")
    )
    t.delete("event_id BETWEEN 100 AND 299", mode="mor")
    return t.read().groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def _bucketed_versioned_join_plan(spark, sf):
    """Two bucket-spec'd VersionedTables (r10), one spanning an
    append, registered and joined co-keyed. The merge hint pins SMJ so
    the plan shows bucketing — not a broadcast estimate — eliminating
    the shuffle."""
    import tempfile

    from pyspark.sql import functions as F

    from social_media_etl_spark.catalog import load_table
    from social_media_etl_spark.operators.manifest import VersionedTable

    d = tempfile.mkdtemp(prefix="smetl_planbkt_")
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    to = VersionedTable.create(
        spark, f"{d}/o", orders, bucket_by=("o_orderkey", 8)
    )
    tl = VersionedTable.create(
        spark, f"{d}/l", li.where("l_orderkey % 2 = 0"),
        bucket_by=("l_orderkey", 8),
    )
    tl.append(li.where("l_orderkey % 2 != 0"))
    odf = to.register_bucketed("plan_vbkt_o")
    ldf = tl.register_bucketed("plan_vbkt_l")
    return (
        ldf.hint("merge")
        .join(odf, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# showcase frames that are not queries() outputs: name -> (builder,
# blurb). Used for plans whose graded key deliberately returns a
# different (post-maintenance) snapshot.
EXTRA = {
    "mor_deletion_vector_read": (
        _mor_read_plan,
        "Merge-on-read read path (pre-OPTIMIZE): the deletion vector "
        "applies as a LEFT ANTI join on the parquet `_metadata` "
        "(file_path, row_index) key — the small DV side broadcasts "
        "(`BroadcastHashJoin LeftAnti BuildRight`), the data scan "
        "never reshuffles, and ZERO data files were rewritten to "
        "produce this snapshot.",
    ),
    "bucketed_versioned_join": (
        _bucketed_versioned_join_plan,
        "Bucket spec in the versioned layer (r10): both FileScans read "
        "`Bucketed: true, SelectedBucketsCount: 8 out of 8` and the "
        "SortMergeJoin has NO exchange below it on either side — the "
        "lineitem side spans TWO commits (create + append), proving "
        "the bucket universe survives appends. The only exchange in "
        "the plan is the post-join aggregation's.",
    ),
}

HEADER = """# PLANS — physical plans of representative queries

Generated by `scripts/dump_plans.py` (sf0.01). Each section states the
scale property the plan must exhibit — the same properties
`tests/test_plans.py` asserts, so regressions fail CI before they cost
cluster hours.
"""


def main() -> None:
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    sections = [HEADER]
    frames = [(name, lambda s, f, n=name: qs[n](s, f), blurb)
              for name, blurb in SHOWCASE.items()]
    frames += [(name, fn, blurb) for name, (fn, blurb) in EXTRA.items()]
    for name, build, blurb in frames:
        df = build(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # keep the tree + node details but cap pathological lengths
        if len(plan) > 12000:
            plan = plan[:12000] + "\n... (truncated)\n"
        sections.append(f"## {name}\n\n{blurb}\n\n```\n{plan}\n```\n")
    with open(REPO / "PLANS.md", "w", encoding="utf-8") as fh:
        fh.write("\n".join(sections))
    print(f"wrote PLANS.md ({len(frames)} plans)")


if __name__ == "__main__":
    main()
