"""Inputs for the benchmark.

Two input sets, both the same for the same seed:

- ``stage_pages``: the pipeline corpus, ``sources.synthetic.page_record``
  over the page-id range ``[k * n, (k + 1) * n)`` with ``k = seed mod
  N_RANGES``. Seed 0 is the range ``oracle.oracle_triples(n)`` covers.
- ``TABLES_DIR``: the ten tables the ``__spark_entry__.queries()``
  registry reads (``region`` ... ``embeddings``), a byte-for-byte copy of
  the registry's sf0.01 test tables (seed 42, one parquet file each). They
  are the same for every ``--seed``.

The pages are written with pyarrow from the driver process, so staging
needs no Spark job.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_PER_RUN = 2000
PAGE_FILES = 4
# Seeds fold onto this many disjoint page-id ranges. A page's timestamp is
# EPOCH + page id seconds, so an unfolded large seed (say 2**31) would put
# it past the year 9999 and page_record would raise.
N_RANGES = 10_000

TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def page_range(seed: int, n: int = PAGES_PER_RUN) -> range:
    start = (seed % N_RANGES) * n
    return range(start, start + n)


def page_records(seed: int, n: int = PAGES_PER_RUN) -> list:
    from kg_microbe_spark.sources import synthetic

    lex = synthetic.build_lexicon()
    hubs = synthetic.hub_terms(lex)
    return [synthetic.page_record(pid, lex, hubs) for pid in page_range(seed, n)]


def stage_pages(path: str, records: list) -> None:
    """Write the corpus as PAGE_FILES parquet files (the scan's partitions)."""
    os.makedirs(path)
    table = pa.Table.from_pylist(
        [dict(r, warc_ts=r["warc_ts"].replace(tzinfo=None)) for r in records],
        schema=pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                          ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())]),
    )
    per = -(-table.num_rows // PAGE_FILES)
    for i in range(PAGE_FILES):
        pq.write_table(table.slice(i * per, per), os.path.join(path, f"part-{i}.parquet"))


def check_tables() -> str:
    """The query tables' directory, after checking every table is there."""
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(TABLES_DIR, f"{t}.parquet"))]
    if missing:
        raise FileNotFoundError(f"query tables missing under {TABLES_DIR}: {missing}")
    return TABLES_DIR
