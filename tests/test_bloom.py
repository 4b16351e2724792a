"""Distributed Bloom filter (operators/bloom.py): no-false-negative
guarantee, FP rate vs design bound, serialization, distributed-build ==
local-build equivalence under repartitioning, and the broadcast probe
path."""

import numpy as np
import pytest

from irivermetrics_offpaper.operators import bloom


def _local_build(keys, m, k):
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    bloom._set_keys(bits, m, k, keys)
    return bloom.BloomFilter(bits, m, k)


def test_params_for_textbook_sizing():
    m, k = bloom.params_for(1000, 0.01)
    assert 9000 < m < 10100 and k in (6, 7)
    with pytest.raises(ValueError):
        bloom.params_for(0, 0.01)
    with pytest.raises(ValueError):
        bloom.params_for(10, 1.5)


def test_no_false_negatives_and_fp_rate():
    keys = [f"https://site{i}.example/p/{i * 7}" for i in range(2000)]
    m, k = bloom.params_for(len(keys), 0.01)
    bf = _local_build(keys, m, k)
    assert all(bf.contains(key) for key in keys)  # NEVER a false negative
    other = [f"https://other{i}.example/q/{i}" for i in range(5000)]
    fp = sum(bf.contains(key) for key in other) / len(other)
    assert fp < 0.03  # design 1% with generous slack


def test_serialization_round_trip():
    bf = _local_build(["a", "b", "c"], 1024, 5)
    blob = bf.to_bytes()
    back = bloom.BloomFilter.from_bytes(blob)
    assert back.m == 1024 and back.k == 5
    assert np.array_equal(back.bits, bf.bits)
    for key in "abc":
        assert back.contains(key)
    with pytest.raises(ValueError):
        bloom.BloomFilter.from_bytes(b"junk" * 10)
    with pytest.raises(ValueError):
        bloom.BloomFilter.from_bytes(blob[:-5])


def test_distributed_build_matches_local(spark):
    keys = [f"k{i}" for i in range(500)]
    df = spark.createDataFrame([(key,) for key in keys], "url string")
    m, k = bloom.params_for(500, 0.01)
    local = _local_build(keys, m, k)
    for parts in (1, 7):
        bf = bloom.build_bloom(df.repartition(parts), "url", m, k, fan_in=3)
        # OR is order-independent: the distributed bitmap is EXACTLY
        # the local one regardless of partitioning
        assert np.array_equal(bf.bits, local.bits), parts


def test_membership_probe_spark(spark):
    seen = [f"https://h/{i}" for i in range(300)]
    df_seen = spark.createDataFrame([(s,) for s in seen], "url string")
    m, k = bloom.params_for(300, 0.001)
    bf = bloom.build_bloom(df_seen, "url", m, k)
    probe = spark.createDataFrame(
        [(1, seen[0]), (2, seen[299]), (3, "https://new.example/x"),
         (4, None)],
        "doc_id bigint, url string")
    out = {r.doc_id: r.maybe_seen
           for r in bloom.with_bloom_membership(probe, bf, "url").collect()}
    assert out[1] is True and out[2] is True
    assert out[3] is False  # definitely-new at 0.1% design FP
    assert out[4] is None
    # nulls in the BUILD are skipped, not hashed
    with_null = df_seen.unionByName(
        spark.createDataFrame([(None,)], "url string"))
    bf2 = bloom.build_bloom(with_null, "url", m, k)
    assert np.array_equal(bf2.bits, bf.bits)


def test_review_fixes_fanin_distribution_and_truncated_header(spark):
    """r7 review finds: (1) power-of-two fan_in must actually
    distribute partials across combine groups (mid()-based grouping
    sent ALL of them to group 0); (2) a blob truncated inside the
    header raises ValueError, not struct.error; (3) from_bytes is a
    zero-copy view."""
    keys = [f"k{i}" for i in range(200)]
    df = spark.createDataFrame([(k,) for k in keys], "url string")
    m, k = bloom.params_for(200, 0.01)
    local = _local_build(keys, m, k)
    # default fan_in=8 (power of two) + many partitions: still exact
    bf = bloom.build_bloom(df.repartition(16), "url", m, k)
    assert np.array_equal(np.asarray(bf.bits), np.asarray(local.bits))
    from pyspark.sql import functions as F

    part_groups = (df.repartition(16)
                   .select(F.pmod(F.spark_partition_id(), F.lit(8))
                           .alias("g")).distinct().count())
    assert part_groups > 1  # the grouping key actually spreads
    with pytest.raises(ValueError):
        bloom.BloomFilter.from_bytes(b"IRMBLOOM1" + b"\x00" * 5)
    view = bloom.BloomFilter.from_bytes(local.to_bytes())
    assert not view.bits.flags.writeable  # zero-copy read-only view
