"""Round 12, wave 5: scheduler-floor tuner (`tune_for_fixture`) and the
100× sweep's memory hygiene (VERDICT r11 tasks #4/#6)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


class TestTuneForFixture:
    def test_scales_to_fixture_bytes(self, spark, sf_dir):
        from gluettalax_spark.session import tune_for_fixture

        before = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            n = tune_for_fixture(spark, sf_dir)
            total_mb = sum(
                os.path.getsize(os.path.join(sf_dir, f)) >> 20
                for f in os.listdir(sf_dir)
                if f.endswith(".parquet")
            )
            cores = spark.sparkContext.defaultParallelism
            assert n == max(4, min(cores, total_mb))
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)

    def test_missing_dir_is_a_noop(self, spark):
        from gluettalax_spark.session import tune_for_fixture

        before = spark.conf.get("spark.sql.shuffle.partitions")
        n = tune_for_fixture(spark, "/nonexistent/dir")
        assert n == int(before)
        assert spark.conf.get("spark.sql.shuffle.partitions") == before

    def test_floor_keeps_explode_heavy_ops_parallel(self, spark, tmp_path):
        """A tiny fixture must still get >= 4 partitions (the explode
        fan-out floor), never 0/1."""
        from gluettalax_spark.session import tune_for_fixture

        before = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.range(10).write.mode("overwrite").parquet(f"{tmp_path}/t.parquet")
            assert tune_for_fixture(spark, str(tmp_path)) == 4
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)


class TestSweepMemoryRelease:
    def test_releases_checkpoint_blocks_and_model_cache(self, spark, sf_dir):
        import bench
        from gluettalax_spark.operators import ann

        # Create both kinds of retained state the sweep accumulates.
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").localCheckpoint(eager=True)
        assert df.count() > 0
        ann._ASSIGN_CACHE[(("fake",), "app")] = ("df", "centers")
        assert spark.sparkContext._jsc.getPersistentRDDs().size() > 0

        bench._release_sweep_memory(spark)

        assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
        assert ann._ASSIGN_CACHE == {}

    def test_numpy_model_caches_survive(self, spark, sf_dir):
        """Only the session-bound DataFrame memo is dropped — the numpy
        codebook/centroid models are plain arrays and must stay cached."""
        import bench
        from gluettalax_spark.operators import ann

        ann._ivf_centers_np(sf_dir)
        n_numpy_keys = sum(
            1 for k in ann._MODEL_CACHE if isinstance(k, tuple) and k[0] == "ivf-centers"
        )
        assert n_numpy_keys >= 1
        bench._release_sweep_memory(spark)
        assert (
            sum(1 for k in ann._MODEL_CACHE if isinstance(k, tuple) and k[0] == "ivf-centers")
            == n_numpy_keys
        )

    def test_broadened_sweep_covers_r4_subset(self):
        """scaling_100x must enumerate >= 39 batch keys (task #5)."""
        import bench
        from gluettalax_spark import registry

        specs = registry.all_queries()
        extra = [
            n
            for n in bench.R4_SUBSET
            if n in specs
            and n not in bench.SCALING_100X_SUBSET
            and not specs[n].fixture_scale_only
        ]
        names = [n for n in bench.SCALING_100X_SUBSET if n in specs] + extra
        assert len(names) >= 39
