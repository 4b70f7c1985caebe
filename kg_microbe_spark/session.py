"""SparkSession factory with scale-oriented defaults.

The only place a SparkSession is configured: tests, scripts, bench and
the spark-submit entry point all build their session here, so every run
gets the same plan behavior. Tuned for the patterns this engine relies on
(reference analogue: kg-microbe's hand-rolled idioms, SURVEY.md §4):

- AQE on, including skew-join splitting — the north rule names hub
  entities / skewed predicates explicitly; at 100 TB the mention→lexicon
  and triple-dedup shuffles are the skew surfaces.
- Arrow on — every Python boundary in this engine is an Arrow-batched
  pandas UDF (no per-row Python anywhere, per BASELINE.json.input_hint).
- shuffle partitions default to max(2 × cores, 8) of the session's
  parallelism; a real cluster would set this (or rely on AQE coalescing,
  which is enabled), and a value given to spark-submit is kept.
- the master is set only when the caller, ``SPARK_GRAFT_MASTER`` or
  ``SPARK_GRAFT_CPUS`` names one; otherwise spark-submit's ``--master``
  (or pyspark's ``local[*]``) applies.

``local_frame`` is the only way the package turns driver-side data into a
DataFrame: it ships the rows as Arrow, so the frame is a LocalRelation
(``LocalTableScan``) rather than a scan over a parallelized, pickled
Python RDD whose every job starts Python workers.
"""

from __future__ import annotations

import os
from typing import Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# The directory holding the kg_microbe_spark package (and __spark_entry__).
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "kg_microbe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if not master and os.environ.get("SPARK_GRAFT_CPUS"):
        master = "local[%s]" % os.environ["SPARK_GRAFT_CPUS"]
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2k-row Arrow batches + explicit direct-memory headroom: with wide
        # binary columns (html), 10k-row batches across 32 concurrent Python
        # channels exhausted netty direct memory and triggered System.gc()
        # storms (measured 93s → 6.6s on a 400k-page scan). On a cluster the
        # same options belong in spark.executor.extraJavaOptions.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:MaxDirectMemorySize=24g"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Guide §3.1/§9: allow shuffled-hash join when its size conditions
        # fit instead of always sort-merge — the engine's joins are
        # equi-joins whose build sides are bounded (dimension frames or
        # post-shuffle partitions), and SHJ skips both sorts. Production
        # keeps the same setting. AQE sizes partitions, but it cannot split
        # one hot key on the build side: a hub key there is built into a
        # single task's hash table (salting.salted_join is the remedy).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Let AQE rewrite a planned sort-merge join to shuffled-hash when
        # every post-shuffle partition is under this bound (default 0 =
        # off upstream; 64 MB matches the broadcast budget above).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Python workers import kg_microbe_spark whatever the working
        # directory (Spark merges this with the inherited PYTHONPATH).
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    sc = spark.sparkContext
    if shuffle_partitions is None and not sc.getConf().contains("spark.sql.shuffle.partitions"):
        spark.conf.set("spark.sql.shuffle.partitions", str(max(2 * sc.defaultParallelism, 8)))
    return spark


def local_frame(
    spark: SparkSession, rows: Union[Sequence[Sequence], pa.Table], schema: Union[StructType, str]
) -> DataFrame:
    """A LocalRelation holding ``rows`` (tuples or Rows in ``schema``'s
    column order, or an Arrow table such as ``df.toArrow()``) under
    ``schema`` (a StructType or a DDL string), nullability included.

    ``createDataFrame`` of a Python list builds ``Scan ExistingRDD`` over a
    parallelized RDD, and every job that scans it runs Python-worker tasks
    to unpickle the rows. An Arrow table becomes a ``LocalTableScan``
    whatever ``spark.sql.execution.arrow.pyspark.enabled`` says."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow_schema = to_arrow_schema(schema)
        columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
        rows = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(rows, schema)
