"""Cuckoo-filter URL-seen variant (north_rule 'bloom/cuckoo'): membership,
false-positive rate, and the deletion capability blooms lack."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from frontier_engine import urlseen

N_SHARDS = 8
N_BUCKETS = 1 << 12


def _hashed(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url_norm string").withColumn(
        "url_hash", F.xxhash64("url_norm")
    )


class TestCuckoo:
    def test_no_false_negatives(self, spark):
        urls = [f"http://c{i % 9}.net/p{i}" for i in range(2000)]
        df = _hashed(spark, urls)
        shards = urlseen.build_cuckoo_shards(df, N_SHARDS, N_BUCKETS)
        marked = urlseen.mark_maybe_seen_cuckoo(df, shards, N_SHARDS, N_BUCKETS)
        assert marked.where(~F.col("maybe_seen")).count() == 0

    def test_fpr_small(self, spark):
        ins = _hashed(spark, [f"http://a.com/{i}" for i in range(1000)])
        probes = _hashed(spark, [f"http://z.org/{i}" for i in range(5000)])
        shards = urlseen.build_cuckoo_shards(ins, N_SHARDS, N_BUCKETS)
        fp = (
            urlseen.mark_maybe_seen_cuckoo(probes, shards, N_SHARDS, N_BUCKETS)
            .where(F.col("maybe_seen"))
            .count()
        )
        assert fp / 5000 < 0.01  # 16-bit fingerprints → ~2*4/65536

    def test_delete_then_absent(self, spark):
        urls = [f"http://d.io/{i}" for i in range(500)]
        df = _hashed(spark, urls)
        shards = urlseen.build_cuckoo_shards(df, N_SHARDS, N_BUCKETS)
        victims = _hashed(spark, urls[:200])
        pruned = urlseen.cuckoo_delete_shards(shards, victims, N_SHARDS, N_BUCKETS)
        marked = urlseen.mark_maybe_seen_cuckoo(
            _hashed(spark, urls[:200]), pruned, N_SHARDS, N_BUCKETS
        )
        # deleted items no longer reported (modulo fp collisions with survivors)
        assert marked.where(F.col("maybe_seen")).count() <= 3
        # survivors still present — deletion must not evict other items
        kept = urlseen.mark_maybe_seen_cuckoo(
            _hashed(spark, urls[200:]), pruned, N_SHARDS, N_BUCKETS
        )
        assert kept.where(~F.col("maybe_seen")).count() == 0

    def test_n_items_tracked(self, spark):
        df = _hashed(spark, [f"http://n.com/{i}" for i in range(300)])
        shards = urlseen.build_cuckoo_shards(df, N_SHARDS, N_BUCKETS)
        total = shards.agg(F.sum("n_items")).collect()[0][0]
        assert total == 300

    def test_duplicate_shard_row_raises(self, spark):
        from pyspark.errors import PythonException

        df = _hashed(spark, ["http://dup.com/1"])
        shards = urlseen.build_cuckoo_shards(df, N_SHARDS, N_BUCKETS)
        marked = urlseen.mark_maybe_seen_cuckoo(df, shards.unionByName(shards), N_SHARDS, N_BUCKETS)
        with pytest.raises(PythonException, match="ValueError: duplicate urlseen shard rows"):
            marked.collect()
