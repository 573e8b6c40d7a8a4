"""``query_sweep``: a fixed subset of the declared ``QUERIES``, in declared
order, one pass per process.

Each leaf is timed as ``fn(spark, sf) + count()``, as the repository's
``bench.py`` does. One pass per fresh process because ``queries`` caches
the lakes it builds for the life of the process. The subset keeps a pass
inside the run budget while reaching every module the full list reaches:
``functions.*``, ``operators.asof``/``rangejoin``/``lww``,
``sources.avro_io``/``cobol``, ``streaming.sessions`` and the
lake-building leaves (the MV leaves are left to ``cdc_tail``, which
refreshes an ``IncrementalRollup`` itself). Each leaf's row count is checked against its DuckDB
oracle, computed before the timed pass.
"""

import os
import time

from perfbench import common, sfgen

SF = 0.02
LEAVES = (
    "cdc_lww_latest",
    "ingest_e2e_final_state",
    "lake_read_range",
    "lake_point_lookup",
    "lake_cdf_changes",
    "avro_logical_roundtrip",
    "cobol_ingest_roundtrip",
    "q1_pricing_summary",
    "q3_top_revenue",
    "window_running_total",
    "topk_orders_per_priority",
    "set_ops_clicked_never_purchased",
    "asof_click_purchase",
    "range_join_attribution",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sample_stratified",
    "pack_sequences",
    "text_token_stats",
    "text_quality",
    "lang_id",
    "doc_fingerprint",
    "embed_knn",
    "sessionize",
    "multimodal_features",
)


def oracle_counts(sf_dir: str, names) -> dict[str, int]:
    import duckdb

    from kafka_connect_fs_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, f)}')"
                )
        return {
            q: con.execute(f"SELECT count(*) FROM ({ORACLES[q]})").fetchone()[0]
            for q in names
        }
    finally:
        con.close()


def warm(spark) -> None:
    """First-job codegen and Arrow worker spawn are once per process, not
    per leaf (the same warm-up ``bench.py`` runs)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    spark.range(2_000_000).select(F.sum(F.xxhash64("id"))).collect()
    (
        spark.range(100_000)
        .select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.max_by("v", F.struct("v")), F.count(F.lit(1)))
        .collect()
    )

    # no postponed annotations in this module: pandas_udf reads the hints
    @pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    spark.range(10_000).select(_noop("id")).collect()


def run(r: common.Run) -> None:
    from kafka_connect_fs_spark.queries import QUERIES

    from perfbench import layers  # imports this module for LEAVES

    sf_dir = os.path.join(r.work, "sf")
    with r.timed_setup("input.generate"):
        rows = sfgen.write(sf_dir, r.seed, SF)
    r.facts["input"] = {"sf": SF, "rows": rows, "leaves": len(LEAVES)}
    want = oracle_counts(sf_dir, LEAVES)
    os.sync()
    common.start_session(r)
    layers.install(r.tracer)
    with r.timed_setup("session.warm"):
        warm(r.spark)
    os.sync()  # outside every timed window: writeback stalls
    r.tracer.reset()

    t_pass = time.perf_counter()
    with r.tracer.span("sweep"):
        for name in LEAVES:
            t0 = time.perf_counter()
            with r.op(name) as op:
                n = QUERIES[name](r.spark, sf_dir).count()
            r.layer[f"sweep.{name}_s"] = time.perf_counter() - t0
            if op.ok:
                r.check(n == want[name], f"{name}: {n} rows, oracle {want[name]}")
    wall = time.perf_counter() - t_pass
    r.tracer.stop()
    # the operation is the pass: leaf times are too unlike each other for
    # their median to be a steady figure (they are per-layer metrics)
    r.samples["op"] = [wall]
    r.facts["sweep_s"] = wall
    r.throughput = len(LEAVES) / wall
