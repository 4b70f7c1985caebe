"""Argument preconditions raise ValueError (a bare ``assert`` is stripped
under ``python -O`` and would let the bad value through)."""

import pytest
from pyspark.sql import functions as F

from kg_microbe_spark.caching import SessionVersionCache
from kg_microbe_spark.operators.dedup import minhash_lsh_candidates, simhash_col, simhash_table
from kg_microbe_spark.operators.mentions import scan_mentions_sharded
from kg_microbe_spark.operators.salting import salted_collect_set, salted_join

CASES = {
    "cache_max_per_app": lambda df: SessionVersionCache(max_per_app=0),
    "salted_join_buckets": lambda df: salted_join(df, df.select("k"), ["k"], "v", salt_buckets=0),
    "salted_collect_set_buckets": lambda df: salted_collect_set(df, ["k"], "v", "vs", salt_buckets=0),
    "minhash_bands": lambda df: minhash_lsh_candidates(df, "k", "v", num_hashes=10, bands=4),
    "simhash_col_bits": lambda df: simhash_col(F.array(F.col("v")), bits=61, portable=True),
    "simhash_table_bits": lambda df: simhash_table(df, "k", "v", bits=61, portable=True),
    "sharded_scan_shards": lambda df: scan_mentions_sharded(df, df, shards=0),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_precondition_raises_value_error(spark, case):
    df = spark.createDataFrame([(1, "a b c")], "k int, v string")
    with pytest.raises(ValueError):
        CASES[case](df)
