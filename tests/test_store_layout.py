"""Store layout: every table written by encode, append, delete, consume,
materialize and compact matches its one declaration in
`sources/layout.py`, and the metadata reads built on it run no Spark
job."""

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from compressed_vec_spark.sources import encoded_table, layout, snapshot
from compressed_vec_spark.spark import compact_job, delete_job, encode_job
from compressed_vec_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-test-layout", cores=4, chunk_rows=500)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """(source, materialized, compacted) store dirs: the source went
    through encode, an evolving append, a delete and a consume."""
    root = tmp_path_factory.mktemp("layout")
    src, mat, comp = (str(root / n) for n in ("src", "mat", "comp"))
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({"k": np.arange(3000, dtype=np.int64)})
    pdf["lang"] = np.array(["en", "de", "fr"])[rng.integers(0, 3, 3000)]
    pdf["v"] = rng.random(3000)
    base = (spark.createDataFrame(pdf[:2000])
            .repartitionByRange(2, "k").sortWithinPartitions("k"))
    encode_job.encode_table(spark, base, src, url_col=None,
                            codec_overrides={"lang": "dict"})
    batch = spark.createDataFrame(pdf[2000:]).withColumn(
        "extra", F.col("k") * 2)
    encode_job.append_table(spark, batch, src, batch_id="b1", url_col=None,
                            num_partitions=2, allow_new_columns=True)
    delete_job.delete_where_equals(spark, src, "lang", "en", "d1")
    snapshot.consume_new_batches(spark, src, "c1", lambda b, df: None)
    delete_job.materialize_deletes(spark, src, mat)
    compact_job.compact_store(spark, mat, comp, target_elements=2000)
    return src, mat, comp


def _table_paths(spark, out):
    """(table, path) of every declared table present in store `out`."""
    found = []
    for t in layout.TABLES:
        dirs = ([layout.consumer_dir(out, c)
                 for c in layout.consumer_ids(spark, out)]
                if t is layout.CURSOR else [out])
        found += [(t, t.path(d)) for d in dirs if os.path.isdir(t.path(d))]
    return found


def test_tables_match_declared_schemas(spark, stores):
    src = stores[0]
    assert {t.name for t, _ in _table_paths(spark, src)} == \
        {t.name for t in layout.TABLES}
    for out in stores:
        for t, path in _table_paths(spark, out):
            got = [(f.name, f.type) for f in pq.read_table(path).schema
                   if f.name != t.partition]
            want = [(f.name, f.type) for f in t.arrow_schema()
                    if f.name != t.partition]
            assert got == want, (out, t.name)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn submitted)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    result = fn()
    return result, len(set(tracker.getJobIdsForGroup(None)) - before)


def test_metadata_reads_submit_no_jobs(spark, stores):
    for out in stores:
        pos, jobs = _jobs(spark, lambda: snapshot.consumer_position(
            spark, out, "c1"))
        assert jobs == 0 and pos == 4
        (ddl, _), jobs = _jobs(spark, lambda: encoded_table.stored_schema(
            spark, out))
        assert jobs == 0
        assert ddl == "k bigint, lang string, v double, extra bigint"
        log, jobs = _jobs(spark, lambda: snapshot._log_rows(spark, out))
        assert jobs == 0
        assert log == [{"batch_id": "b1", "part_offset": 2, "n_parts": 2}]
