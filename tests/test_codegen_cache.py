"""Per-execution fixed costs stay paid once per session: the generated
classes of a query rotation stay resident in Spark's codegen cache, and
``load_table`` infers a file's schema once per file state."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq

from accident_prediction_montreal_spark import cachereg
from accident_prediction_montreal_spark.operators.checksum import multiset_checksum
from accident_prediction_montreal_spark.plans import REGISTRY
from accident_prediction_montreal_spark.session import CODEGEN_CACHE_ENTRIES
from accident_prediction_montreal_spark.sources.registry import load_table
from tests.test_sources_registry import SF

#: perfbench's ``adhoc`` queries. Their generated classes outgrow Spark's
#: default cache of 100 entries: at that size the second rotation
#: recompiled 137 classes.
ROTATION = (
    "w4_ewma",
    "m8_threshold_sweep",
    "a6_idw_radius",
    "m2_random_undersampler",
    "st_cdc_upsert_stream",
)

_groups = itertools.count()


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _jobs_of(spark, fn):
    """``fn()``'s result and the number of Spark jobs it submitted."""
    sc = spark.sparkContext
    group = f"test_codegen_cache_{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rotation(spark) -> int:
    """Compilations of one pass over ROTATION, each query built and
    checksummed the way perfbench runs it."""
    before = _compiles(spark)
    for name in ROTATION:
        df = REGISTRY[name].fn(spark, SF)
        multiset_checksum(df, df.columns).collect()
        cachereg.release_all()
        spark.catalog.clearCache()
    return _compiles(spark) - before


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_second_rotation_compiles_nothing(spark):
    _rotation(spark)
    assert _rotation(spark) == 0


def test_load_table_infers_once_per_file_state(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32()), "r_name": ["A", "B"]}), path
    )
    first, _ = _jobs_of(spark, lambda: load_table(spark, "region", str(tmp_path)))
    again, jobs = _jobs_of(spark, lambda: load_table(spark, "region", str(tmp_path)))
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    # Same path, different column type: the file's identity moved, so
    # the schema is inferred again and the read sees the new type.
    pq.write_table(
        pa.table({"r_regionkey": pa.array([7], pa.int64()), "r_name": ["C"]}), path
    )
    fresh, jobs = _jobs_of(spark, lambda: load_table(spark, "region", str(tmp_path)))
    assert jobs == 1
    assert dict(fresh.dtypes)["r_regionkey"] == "bigint"
    assert fresh.collect()[0]["r_regionkey"] == 7
