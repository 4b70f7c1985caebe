"""Per-stage checkpointing with lineage + metrics (north rule resumability).

Production target is Iceberg (atomic snapshot commits give the reference's
atomic_io.py guarantees for free — SURVEY.md §2.1 S15). This sandbox has no
Iceberg jars, so the same contract is implemented over parquet:

- a stage directory is COMPLETE iff Spark's ``_SUCCESS`` marker exists
  (Spark's FileOutputCommitter publishes it only after all tasks commit —
  the content-completeness marker of atomic_io.py:153-208);
- ``run_stage`` is idempotent: if the stage is complete it is *read*, not
  recomputed — kill the job between stages and rerun, and only missing
  stages execute (the reference's cache_is_complete resume semantics);
- every publish appends per-partition lineage rows (stage, partition_id,
  input_fingerprint, row_count, wall_time) to a ``_lineage`` table — the
  north rule's "per-partition lineage + metrics checkpointed" requirement.
  A partition is one write task: ``partition_id`` is the NNNNN of its
  ``part-NNNNN`` file(s) and ``row_count`` is summed from their parquet
  footers, so recording lineage never rescans the stage.
"""

from __future__ import annotations

import os
import re
import time
import uuid
from collections import Counter
from typing import Callable, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from kg_microbe_spark.schemas import LINEAGE_SCHEMA
from kg_microbe_spark.session import local_frame

# Spark's data-file name: part-<write task's partition id>-<job uuid>...
_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str, run_id: Optional[str] = None):
        self.spark = spark
        self.root = root
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.root, "_lineage")

    # -- contract ---------------------------------------------------------
    def is_complete(self, stage: str, input_fingerprint: str = "") -> bool:
        """Complete = _SUCCESS exists AND (when the caller supplies an
        ``input_fingerprint``) the fingerprint recorded at publish time
        matches — a rerun after the input data / config / stage code
        changed recomputes instead of silently reading stale output.
        An empty fingerprint preserves the marker-only contract (the
        documented same-input assumption). Iceberg target: the same value
        rides a snapshot summary property."""
        p = self.stage_path(stage)
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            return False
        if not input_fingerprint:
            return True
        fp_file = os.path.join(p, "_FINGERPRINT")
        if not os.path.exists(fp_file):
            return False
        with open(fp_file) as f:
            return f.read() == input_fingerprint

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.stage_path(stage))

    def write(self, df: DataFrame, stage: str, input_fingerprint: str = "") -> DataFrame:
        """Publish a stage atomically and record lineage. Returns the
        re-read (checkpointed) frame so downstream plans cut lineage here."""
        t0 = time.time()
        df.write.mode("overwrite").parquet(self.stage_path(stage))
        wall = time.time() - t0
        if input_fingerprint:
            # written AFTER _SUCCESS: a crash between the two leaves the
            # stage "incomplete-for-this-fingerprint" → safe recompute.
            with open(os.path.join(self.stage_path(stage), "_FINGERPRINT"), "w") as f:
                f.write(input_fingerprint)
        out = self.read(stage)
        row_counts = Counter()
        for name in os.listdir(self.stage_path(stage)):
            m = _PART_FILE.match(name)
            if m:
                path = os.path.join(self.stage_path(stage), name)
                row_counts[int(m.group(1))] += pq.read_metadata(path).num_rows
        lineage = local_frame(
            self.spark,
            [
                (stage, part, input_fingerprint, n, float(wall), self.run_id)
                for part, n in sorted(row_counts.items())
            ],
            LINEAGE_SCHEMA,
        )
        lineage.write.mode("append").parquet(self.lineage_path)
        return out

    def run_stage(self, stage: str, fn: Callable[[], DataFrame], input_fingerprint: str = "") -> DataFrame:
        """Idempotent stage execution: complete (marker + matching
        fingerprint, when given) → read, else compute+publish."""
        if self.is_complete(stage, input_fingerprint):
            return self.read(stage)
        return self.write(fn(), stage, input_fingerprint)

    def lineage(self) -> DataFrame:
        if os.path.exists(self.lineage_path):
            return self.spark.read.parquet(self.lineage_path)
        return local_frame(self.spark, [], LINEAGE_SCHEMA)
