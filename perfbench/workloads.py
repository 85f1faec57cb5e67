"""The benchmark's three workloads, as lists of operations.

An operation is built by its query function (construction, including any
eager jobs inside it) and then executed by one action: a ``noop`` sink for
reads, its own parquet sink for the write operations.

- ``olap_etl``: the relational and TPC-H headline keys (``OLAP_READ``),
  where ``io.load`` and ``session.conform_session`` carry most of the
  driver-side work, plus the write operations (``ETL_KEYS``, the pipeline
  facade writing a partitioned table into a fresh per-pass directory that
  is then read back, and a partitioned ``io.write_parquet`` round trip), so
  a read-side gain that costs write or invalidation time shows in the same
  pass. No materialize, no ``fan_out``, no Python worker.
- ``llm_corpus``: dedup, similarity, text, UDF and corpus-pipeline keys on
  single-split inputs: ``ops.dedup``, ``ops.text``, ``ops.vectors``,
  ``ops.dist_rank``, ``fan_out`` and the Python workers dominate.
- ``graph_iterative``: iterative graph keys, 9-24 eager jobs each, with
  ``ops.materialize`` cutting lineage every iteration.

The read and write keys share one workload because a separate write
workload costs a JVM start and a cold warm-up pass per run for a 3 s pass,
and its pass walls alone spread by a fifth from run to run.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

OLAP_READ = [
    "agg_pricing_summary",
    "agg_count_distinct",
    "agg_rollup",
    "join_multiway_star",
    "join_broadcast",
    "join_inner_hash",
    "win_row_number_topk",
    "win_lag_lead",
    "win_running_sum",
    "set_union_distinct",
    "limit_topn",
    "filter_compound",
    "project_compute",
    "q8_market_share",
    "q18_large_volume_customer",
    "q21_suppliers_kept_waiting",
]
LLM_CORPUS = [
    "dedup_exact",
    "dedup_near_exact_jaccard",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "sim_pairs_threshold",
    "text_tokenize_counts",
    "text_tfidf_topk",
    "text_fingerprint",
    "udf_pandas_scalar",
    "udf_cogrouped_arrow",
    "dedup_simhash_portable",
    "vec_ann_ivf_portable",
    "pipeline_sft_corpus",
    "pipeline_dpo_corpus",
]
GRAPH_ITERATIVE = [
    "graph_pagerank",
    "graph_kcore",
    "graph_katz_centrality",
    "graph_label_propagation",
    "graph_closeness_landmarks",
    "dedup_connected_components",
]
# etl_zorder_layout is left out: it writes below a fixed /tmp path that
# cannot be pointed into the run directory.
ETL_KEYS = [
    "pipeline_api",
    "sink_partitioned",
    "sink_partition_overwrite_dynamic",
    "source_orc_roundtrip",
    "source_merge_schema",
]
KEYS = {
    "olap_etl": OLAP_READ + ETL_KEYS,
    "llm_corpus": LLM_CORPUS,
    "graph_iterative": GRAPH_ITERATIVE,
}
WORKLOADS = tuple(KEYS)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass(frozen=True)
class Op:
    """One benchmark operation.

    ``build(spark, out_dir)`` constructs the DataFrame; ``act(spark, df,
    out_dir)`` runs the action and returns the frame whose rows the
    correctness check compares with ``oracle`` (DuckDB SQL over the input
    tables; ``None`` means the rows are only required to be collectable).
    ``source_rows``, when set, returns (rows read back, rows written) for
    the write operations."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    act: Callable[[SparkSession, DataFrame, str], DataFrame] | None = None
    source_rows: Callable[[SparkSession, DataFrame, str], tuple[int, int]] | None = None

    def run(self, spark: SparkSession, df: DataFrame, out_dir: str) -> DataFrame:
        """The action; returns the frame to check (read-back for writers)."""
        if self.act is None:
            noop(df)
            return df
        return self.act(spark, df, out_dir)


def _registry_op(q, sf_dir: str) -> Op:
    return Op(q.name, lambda spark, _out: q.fn(spark, sf_dir), q.oracle)


def _facade_op(qs, sf_dir: str) -> Op:
    """pipeline_api's reader -> steps chain, written through ParquetSink
    partitioned by year, then read back through ParquetSource/io.load. The
    read-back rows must equal pipeline_api's oracle."""
    from swallow_spark.pipeline import (
        Aggregate,
        Filter,
        Join,
        ParquetSink,
        ParquetSource,
        Pipeline,
        WithColumn,
    )

    def pipe(out_dir: str) -> Pipeline:
        return Pipeline(
            source=ParquetSource(sf_dir, "orders"),
            steps=[
                Filter("o_totalprice > 1000"),
                WithColumn("yr", "cast(year(o_orderdate) as int)"),
                Join(ParquetSource(sf_dir, "customer"), on="o_custkey = c_custkey", broadcast=True),
                Aggregate(
                    by=["c_mktsegment", "yr"],
                    aggs={
                        "n_orders": "count(1)",
                        "total_value": (
                            "cast(sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))"
                            " as double) / 100"
                        ),
                    },
                ),
            ],
            sink=ParquetSink(f"{out_dir}/seg_year.parquet", partition_by=("yr",)),
        )

    def act(spark, df, out_dir):
        pipe(out_dir).sink.write(df)
        back = ParquetSource(out_dir, "seg_year").read(spark)
        noop(back)
        return back

    def source_rows(spark, df, out_dir):
        return ParquetSource(out_dir, "seg_year").read(spark).count(), df.count()

    return Op(
        "facade_sink_partitioned",
        lambda spark, out_dir: pipe(out_dir).to_df(spark),
        qs["pipeline_api"].oracle,
        act,
        source_rows,
    )


def _io_write_op(sf_dir: str) -> Op:
    """lineitem projected and written with io.write_parquet partitioned by
    return flag, read back with io.load; checked per flag against DuckDB."""
    from swallow_spark import io

    cols = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate", "l_returnflag"]

    def build(spark, _out):
        return io.load(spark, sf_dir, "lineitem").select(*cols)

    def act(spark, df, out_dir):
        io.write_parquet(df, f"{out_dir}/lineitem_by_flag.parquet", partition_by=["l_returnflag"])
        back = io.load(spark, out_dir, "lineitem_by_flag")
        noop(back)
        return back.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))

    def source_rows(spark, df, out_dir):
        return io.load(spark, out_dir, "lineitem_by_flag").count(), df.count()

    oracle = "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag"
    return Op("io_write_partitioned", build, oracle, act, source_rows)


def ops(workload: str, qs: dict, sf_dir: str) -> list[Op]:
    """The operations of ``workload`` over the tables in ``sf_dir``."""
    out = [_registry_op(qs[k], sf_dir) for k in KEYS[workload]]
    if workload == "olap_etl":
        out += [_facade_op(qs, sf_dir), _io_write_op(sf_dir)]
    return out
