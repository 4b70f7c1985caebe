"""Stage 3 — MENTIONS: dictionary/trie mention detection over page text.

The automaton is built once on the driver from the (small) name index,
broadcast, and reconstructed at most once per executor; each Arrow batch of
pages is scanned in C-speed-ish pure Python inside ``mapInPandas``. This is
the N1/N2 operator family (SURVEY.md §2.9) re-expressed for free text: the
reference annotates *distinct terms once* and joins results back (A8); here
the text IS the term stream, and the distinct-join trick reappears at link
time (mentions are aggregated per (url, term) before the lexicon join).

Matching happens on F1-normalized text (lower, Greek→ASCII, punctuation
strip, whitespace collapse) so the pattern space equals the name-index
``term_norm`` space.

Lexicon-at-scale contract (SCALE.md "mention-scan lexicon ceiling"):
the driver collect + matcher build + broadcast is linear in pattern count
(measured ~2s build + ~100 MB pickled per 1M patterns). ``scan_mentions``
refuses pattern sets above ``MAX_BROADCAST_PATTERNS`` (default 4M —
comfortably inside a 2-4 GB driver budget, but a deliberate ceiling) and
points to :func:`scan_mentions_sharded`, which splits the pattern space
into K hash shards, scans once per shard (K× text passes, 1/K broadcast
peak), and resolves the leftmost-longest-non-overlapping rule GLOBALLY
after the shard union — per-shard greedy resolution would be wrong, so
shards emit longest-per-start candidates and a per-url pass picks winners.
The reference's PREGO dictionary (13.9M names) runs with shards≥4.
"""

from __future__ import annotations

from typing import Iterable, Iterator, List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg_microbe_spark.functions.automaton import FirstWordIndex, build_matcher
from kg_microbe_spark.functions.normalize import normalize_name_py
from kg_microbe_spark.schemas import MENTIONS_SCHEMA

MAX_BROADCAST_PATTERNS = 4_000_000


class LexiconTooLargeError(ValueError):
    """Pattern set exceeds the single-broadcast ceiling — use
    scan_mentions_sharded (or raise max_broadcast_patterns deliberately)."""


# (applicationId, caller-supplied dictionary-version key) → broadcast
# matcher. The collect + FirstWordIndex build + broadcast is driver-side
# serial time proportional to the dictionary, identical on every scan over
# the same lexicon — a cluster builds the broadcast once per dictionary
# VERSION and reuses it across every job/micro-batch, so the engine does
# too. The key is explicit (e.g. the lexicon table's snapshot id): the
# caller owns the staleness contract, as in any dimension cache. LRU-bounded
# per application with unpersist+destroy on eviction, so dictionary-version
# churn in a long-lived session cannot accumulate broadcasts
# (kg_microbe_spark.caching.SessionVersionCache).
from kg_microbe_spark.caching import SessionVersionCache, destroy_broadcast

_MATCHER_CACHE = SessionVersionCache(max_per_app=4, on_evict=destroy_broadcast)


def _matcher_broadcast(spark, name_index: DataFrame, cache_key: str | None):
    def build():
        patterns: List[str] = [r.term_norm for r in name_index.select("term_norm").distinct().collect()]
        return spark.sparkContext.broadcast(build_matcher(patterns))

    return _MATCHER_CACHE.get_or_build(
        spark.sparkContext.applicationId,
        cache_key,
        name_index.schema.simpleString(),
        build,
    )


def _scan_with_matcher(
    extracted: DataFrame,
    name_index: DataFrame,
    candidates_only: bool,
    matcher_cache_key: str | None = None,
    passthrough_cols: Sequence[str] = (),
) -> DataFrame:
    """The single matcher-scan implementation — batch AND streaming callers
    share it (streaming passes ``passthrough_cols=("warc_ts",)`` to carry
    event time through; fields are appended to MENTIONS_SCHEMA with their
    input types). One code path = one place the broadcast-matcher contract
    (cache, ceiling, leftmost-longest) can drift."""
    from pyspark.sql.types import StructType

    spark = extracted.sparkSession
    bc = _matcher_broadcast(spark, name_index, matcher_cache_key)
    passthrough_cols = tuple(passthrough_cols)
    out_schema = StructType(
        MENTIONS_SCHEMA.fields + [extracted.schema[c] for c in passthrough_cols]
    )

    import pandas as pd

    def _scan(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ac: FirstWordIndex = bc.value
        find = ac.find_candidates if candidates_only else ac.find_mentions
        for pdf in batches:
            urls: List[str] = []
            surfaces: List[str] = []
            starts: List[int] = []
            ends: List[int] = []
            ridx: List[int] = []  # source-row position per match (passthrough)
            for row_i, (url, text) in enumerate(zip(pdf["url"], pdf["text"])):
                if not text:
                    continue
                norm = normalize_name_py(text)
                for s, e, surface in find(norm):
                    urls.append(url)
                    surfaces.append(surface)
                    starts.append(s)
                    ends.append(e)
                    ridx.append(row_i)
            out = {
                "url": pd.Series(urls, dtype="object"),
                # surface == term_norm BY CONSTRUCTION: matching runs over
                # the F1-NORMALIZED text, so the matched span IS the
                # normalized term and start/end are offsets into that
                # normalized text, NOT the raw page bytes (raw offsets do
                # not survive normalization's whitespace/punct collapse).
                # Both columns are kept because downstream consumers join
                # on term_norm while reports display surface — today they
                # coincide; a raw-offset-preserving normalizer would change
                # only `surface`. Documented in schemas.MENTIONS_SCHEMA.
                "surface": pd.Series(surfaces, dtype="object"),
                "term_norm": pd.Series(surfaces, dtype="object"),
                "start": pd.Series(starts, dtype="int32"),
                "end": pd.Series(ends, dtype="int32"),
            }
            for c in passthrough_cols:
                # .iloc keeps the source dtype (e.g. datetime64 for
                # timestamps) — a rebuilt object Series would round-trip
                # through Arrow with the wrong type on empty batches.
                out[c] = pdf[c].iloc[ridx].reset_index(drop=True)
            yield pd.DataFrame(out)

    cols = ["url", "text", *passthrough_cols]
    return extracted.select(*cols).mapInPandas(_scan, out_schema)


def scan_mentions(
    extracted: DataFrame,
    name_index: DataFrame,
    max_broadcast_patterns: int | None = MAX_BROADCAST_PATTERNS,
    matcher_cache_key: str | None = None,
    passthrough_cols: Sequence[str] = (),
) -> DataFrame:
    """extracted(url,text,…) × name_index → mentions(url, surface,
    term_norm, start, end[, *passthrough_cols]). Offsets refer to the
    NORMALIZED text and surface == term_norm (see schemas.MENTIONS_SCHEMA).

    Guarded: pattern sets above ``max_broadcast_patterns`` raise
    :class:`LexiconTooLargeError` instead of silently building a multi-GB
    driver object (pass None to bypass deliberately).

    ``matcher_cache_key``: optional dictionary-version key enabling
    session-scoped reuse of the built+broadcast matcher (see
    _MATCHER_CACHE); only pass it when the name index is version-stable.

    ``passthrough_cols``: extra input columns carried through per match
    (streaming uses this for event time — one scan implementation for
    batch and streams)."""
    if max_broadcast_patterns is not None:
        n_patterns = name_index.select("term_norm").distinct().count()
        if n_patterns > max_broadcast_patterns:
            raise LexiconTooLargeError(
                f"{n_patterns} patterns > ceiling {max_broadcast_patterns}; "
                f"use scan_mentions_sharded(extracted, name_index, shards="
                f"{-(-n_patterns // max_broadcast_patterns)}) — see SCALE.md"
            )
    return _scan_with_matcher(
        extracted,
        name_index,
        candidates_only=False,
        matcher_cache_key=matcher_cache_key,
        passthrough_cols=passthrough_cols,
    )


def scan_mentions_sharded(extracted: DataFrame, name_index: DataFrame, shards: int = 4) -> DataFrame:
    """Mention scan for pattern sets beyond the broadcast ceiling.

    K hash-shards of the pattern space → K candidate scans (each emits
    longest-per-start, boundary-valid matches for ITS shard only) →
    global leftmost-longest-non-overlapping resolution per url. Identical
    output to :func:`scan_mentions` (property-tested); costs K text passes
    and one extra (url-keyed) shuffle, in exchange for a K× smaller
    broadcast/build peak."""
    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    cands = None
    for i in range(shards):
        shard = name_index.filter(F.pmod(F.xxhash64("term_norm"), F.lit(shards)) == i)
        c = _scan_with_matcher(extracted, shard, candidates_only=True)
        cands = c if cands is None else cands.unionByName(c)
    return resolve_leftmost_longest(cands)


def resolve_leftmost_longest(candidates: DataFrame) -> DataFrame:
    """Global non-overlap resolution over unioned shard candidates.

    Sort (start asc, end desc) per url and sweep: keep a match iff it
    starts at/after the previous winner's end — with end-desc ordering the
    first match at a given start is the global longest, and later same-
    start rows fall inside the winner, so one sweep reproduces the
    single-matcher semantics. Per-url candidate counts are small (≪ text
    length), so the grouped pandas pass is cheap; the shuffle key is url."""
    import pandas as pd

    def _resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["start", "end"], ascending=[True, False], kind="mergesort")
        keep: List[int] = []
        pos = -1
        for i, (s, e) in enumerate(zip(pdf["start"], pdf["end"])):
            if s < pos:
                continue
            keep.append(i)
            pos = e
        return pdf.iloc[keep]

    return candidates.groupBy("url").applyInPandas(_resolve, MENTIONS_SCHEMA)


def aggregate_mentions(mentions: DataFrame) -> DataFrame:
    """A8 distinct-mention batching: one row per (url, term_norm) with an
    occurrence count — map-side combinable, shrinks the join input by the
    hub-term factor before the lexicon join."""
    return mentions.groupBy("url", "term_norm").agg(F.count("*").alias("n_mentions"))
