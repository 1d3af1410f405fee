"""Per-chunk Bloom filter tests (codecs/bloom.py): no false negatives
ever, a sane false-positive rate, str/bytes hash agreement, and the
manifest-level pruning path over a store layout where zone maps are
useless (probe column unsorted relative to chunk order)."""

import numpy as np
import pyarrow as pa
import pandas as pd
import pytest
from pyspark.sql import functions as F

from compressed_vec_spark.codecs import bloom
from compressed_vec_spark.spark import encode_job
from compressed_vec_spark.spark.session import get_spark
from compressed_vec_spark.sources import encoded_table
from compressed_vec_spark.sources.encoded_table import Leaf


def _rand_strings(n, seed, lo=4, hi=40):
    rng = np.random.default_rng(seed)
    lens = rng.integers(lo, hi, size=n)
    return ["".join(chr(c) for c in rng.integers(33, 127, size=l))
            for l in lens]


def test_no_false_negatives():
    vals = _rand_strings(3000, seed=1)
    blm = bloom.build(pa.array(vals, type=pa.large_utf8()))
    assert blm is not None
    assert all(bloom.might_contain(blm, v) for v in vals)


def test_fpr_sane():
    vals = _rand_strings(4000, seed=2)
    blm = bloom.build(pa.array(vals, type=pa.large_utf8()))
    present = set(vals)
    probes = [v for v in _rand_strings(2000, seed=3) if v not in present]
    fp = sum(bloom.might_contain(blm, v) for v in probes)
    # k=7, ~10 bits/value => theoretical ~1%; allow generous slack
    assert fp / len(probes) < 0.05, fp


def test_str_bytes_hash_agreement():
    """A filter built from a utf8 array answers probes issued as either
    str or utf-8 bytes identically (compaction builds from decoded
    pandas values that may be bytes)."""
    vals = ["héllo", "wörld", "", "a" * 100]
    blm_s = bloom.build(pa.array(vals, type=pa.utf8()))
    blm_b = bloom.build(pa.array([v.encode() for v in vals],
                                 type=pa.large_binary()))
    assert blm_s == blm_b
    for v in vals:
        assert bloom.might_contain(blm_s, v)
        assert bloom.might_contain(blm_s, v.encode())


def test_trailing_nul_not_equal():
    """+1 byte bias: v and v+'\\x00' must hash differently (a plain
    polynomial hash over raw bytes would collide them)."""
    h1 = bloom.hash_values(pa.array(["ab"], type=pa.large_utf8()))
    h2 = bloom.hash_values(pa.array(["ab\x00"], type=pa.large_utf8()))
    assert h1[0] != h2[0]


def test_build_skips_unfilterable():
    assert bloom.build(pa.array([1, 2, 3], type=pa.int64())) is None
    assert bloom.build(pa.array([None, None], type=pa.utf8())) is None
    big = ["x" * (bloom.MAX_MEAN_VALUE_BYTES * 2)] * 4
    assert bloom.build(pa.array(big, type=pa.large_utf8())) is None


def test_might_contain_degrades_to_maybe():
    assert bloom.might_contain(None, "x") is True
    assert bloom.might_contain(b"", "x") is True
    assert bloom.might_contain(b"BLM9" + b"\x00" * 20, "x") is True  # magic
    blm = bloom.build(pa.array(["a", "b"], type=pa.utf8()))
    assert bloom.might_contain(blm[:10], "a") is True  # truncated


@pytest.fixture(scope="module")
def spark():
    s = get_spark("cvx-bloom-tests", cores=4, chunk_rows=1024)
    yield s
    s.stop()


def test_bloom_prunes_where_zone_maps_cannot(spark, tmp_path):
    """Store sorted on id, probed on a high-cardinality string column:
    every chunk's [min_str, max_str] admits the probe (zone maps prune
    nothing), so any pruning observed comes from the Bloom level."""
    out = str(tmp_path / "enc_bloom")
    n = 8192
    vals = _rand_strings(n, seed=7, lo=12, hi=24)
    pdf = pd.DataFrame({"k": np.arange(n), "s": vals})
    df = (spark.createDataFrame(pdf)
          .repartitionByRange(8, "k").sortWithinPartitions("k"))
    encode_job.encode_table(spark, df, out, url_col=None)

    # present exactly once (vals are random 12-24 char: collisions nil)
    probe = vals[5000]
    count, st = encoded_table.pruned_count(
        spark, out, [Leaf("s", "string", "in", values=(probe,))])
    assert count == 1
    assert st["bloom_pruned_chunks"] > 0, st
    assert st["scanned_chunks"] < st["total_chunks"]

    # absent value: every chunk pruned from the manifest alone
    count, st = encoded_table.pruned_count(spark, out, [Leaf(
        "s", "string", "in", values=("\x01definitely-not-present\x7f",))])
    assert count == 0
    assert st["scanned_chunks"] == 0, st


def test_store_without_bloom_column_degrades(spark, tmp_path):
    """A pre-v5 manifest (no bloom column) must still answer equality
    probes correctly — bloom_pruned_chunks reports 0, zone maps alone."""
    out = str(tmp_path / "enc_nobloom")
    n = 4096
    vals = [f"v{i:06d}" for i in range(n)]
    pdf = pd.DataFrame({"k": np.arange(n), "s": vals})
    df = (spark.createDataFrame(pdf)
          .repartitionByRange(4, "k").sortWithinPartitions("k"))
    encode_job.encode_table(spark, df, out, url_col=None)
    # simulate an older store: rewrite the manifest without the column
    import os
    man_path = os.path.join(out, "manifest")
    man = spark.read.parquet(man_path).drop("bloom").toPandas()
    spark.createDataFrame(man).write.mode("overwrite").parquet(man_path)

    count, st = encoded_table.pruned_count(
        spark, out, [Leaf("s", "string", "in", values=("v001234",))])
    assert count == 1
    assert st["bloom_pruned_chunks"] == 0


def test_store_membership_antijoin(spark, tmp_path):
    """Batch membership probe: present probes found, absent probes
    proven absent from the manifest blooms alone, NULL probes never
    match, and the pair-level pruning stats hold."""
    out = str(tmp_path / "enc_member")
    n = 6000
    vals = _rand_strings(n, seed=11, lo=12, hi=24)
    pdf = pd.DataFrame({"k": np.arange(n), "s": vals})
    df = (spark.createDataFrame(pdf)
          .repartitionByRange(6, "k").sortWithinPartitions("k"))
    encode_job.encode_table(spark, df, out, url_col=None)

    probes = spark.createDataFrame(pd.DataFrame({
        "pid": [1, 2, 3, 4, 5],
        "v": [vals[10], vals[3000], vals[5999],      # present
              "absent-value-A", None]}))             # absent / null
    res, st = encoded_table.store_membership(
        spark, out, "s", probes, value_col="v", id_col="pid")
    got = {r["pid"]: r["present"] for r in res.collect()}
    assert got == {1: True, 2: True, 3: True, 4: False, 5: False}
    assert st["n_probes"] == 4            # null probe never hashed
    assert st["pairs_bloom_pruned"] > st["candidate_pairs"], st
    # each present probe exists in exactly one chunk; FPR may add a few
    assert st["candidate_pairs"] < 4 * st["total_chunks"]


def test_store_membership_pre_v5_degrades(spark, tmp_path):
    """No bloom column: every pair verifies (pairs_bloom_pruned = 0)
    but answers stay exact."""
    import os
    out = str(tmp_path / "enc_member_v4")
    vals = [f"w{i:05d}" for i in range(3000)]
    df = (spark.createDataFrame(
        pd.DataFrame({"k": np.arange(3000), "s": vals}))
        .repartitionByRange(4, "k").sortWithinPartitions("k"))
    encode_job.encode_table(spark, df, out, url_col=None)
    man_path = os.path.join(out, "manifest")
    man = spark.read.parquet(man_path).drop("bloom").toPandas()
    spark.createDataFrame(man).write.mode("overwrite").parquet(man_path)

    probes = spark.createDataFrame(pd.DataFrame(
        {"pid": [1, 2], "v": ["w01234", "nope"]}))
    res, st = encoded_table.store_membership(
        spark, out, "s", probes, value_col="v", id_col="pid")
    got = {r["pid"]: r["present"] for r in res.collect()}
    assert got == {1: True, 2: False}
    assert st["pairs_bloom_pruned"] == 0
    assert st["candidate_pairs"] == st["pairs_possible"]


def test_pruned_string_in_count(spark, tmp_path):
    """IN-list over the store: values spread across chunks, blooms
    prune chunks where ALL listed values are provably absent; an
    all-absent list touches nothing."""
    out = str(tmp_path / "enc_in")
    n = 8192
    vals = _rand_strings(n, seed=21, lo=12, hi=24)
    df = (spark.createDataFrame(pd.DataFrame({"k": np.arange(n), "s": vals}))
          .repartitionByRange(8, "k").sortWithinPartitions("k"))
    encode_job.encode_table(spark, df, out, url_col=None)

    # a NULL element never matches (SQL IN semantics) and must
    # not crash the dict heap search
    probe = [vals[100], vals[4000], vals[8000], "no-such-value-1",
             None]
    count, st = encoded_table.pruned_count(
        spark, out, [Leaf("s", "string", "in", values=tuple(probe))])
    assert count == 3
    assert st["bloom_pruned_chunks"] > 0, st
    assert st["scanned_chunks"] < st["total_chunks"]

    count, st = encoded_table.pruned_count(spark, out, [Leaf(
        "s", "string", "in", values=("\x01absent-a", "\x01absent-b"))])
    assert count == 0
    assert st["scanned_chunks"] == 0, st


def test_contains_many_agrees_with_might_contain():
    vals = _rand_strings(800, seed=4)
    blm = bloom.build(pa.array(vals, type=pa.large_utf8()))
    probes = vals[:200] + _rand_strings(400, seed=5)
    got = bloom.contains_many(
        blm, bloom.hash_values(pa.array(probes, type=pa.large_utf8())))
    assert got.tolist() == [bloom.might_contain(blm, v) for v in probes]
    assert got[:200].all()
    # no filter, or a corrupt one, answers "maybe" for every probe
    hashes = np.arange(5, dtype=np.uint64)
    assert bloom.contains_many(None, hashes).all()
    assert bloom.contains_many(blm[:-1], hashes).all()
