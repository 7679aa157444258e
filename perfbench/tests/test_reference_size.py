"""construct_batch's job at the frozen bench's size: transcripts_df(3000,
seed=42) must give 470,476 triples and 222 link mappings (slow: several
minutes on 4 CPUs; set PERFBENCH_SLOW=1 to run)."""

import os

import pytest

pytestmark = pytest.mark.skipif(not os.environ.get("PERFBENCH_SLOW"),
                                reason="set PERFBENCH_SLOW=1 to run the full-size check")


def test_construct_job_at_reference_size(tmp_path):
    from agraph_spark.caching import release_caches
    from agraph_spark.checkpoint import finalize_graph, run_checkpointed
    from agraph_spark.session import get_spark
    from agraph_spark.synth import transcripts_df

    n = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench-reference", master=f"local[{n}]",
                      shuffle_partitions=n,
                      extra_conf={"spark.sql.warehouse.dir": str(tmp_path / "wh")})
    try:
        out = str(tmp_path / "job")
        results = run_checkpointed(spark, transcripts_df(spark, n_convs=3000, seed=42), out,
                                   n_batches=2)
        nodes, _ = finalize_graph(spark, out, link=True)
        n_norm = spark.read.parquet(out + "/entities").select("name_norm").distinct().count()
        assert sum(r.n_triples for r in results) == 470_476
        assert n_norm - spark.read.parquet(out + "/nodes").count() == 222
        release_caches(spark)
    finally:
        spark.stop()
