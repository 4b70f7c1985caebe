"""Deterministic synthetic corpus: pages + ontology lexicon (FIXTURES.md §1-2).

Everything here is a pure function of (seed constants, page_id), so:

- the Spark generator (``pages_df``) builds pages **in executors** via
  ``mapInPandas`` over ``spark.range(n)`` — no driver-side materialization,
  scales to any page count;
- the pytest oracle regenerates the same rows in plain Python and computes
  expected triples independently.

Per-page determinism uses ``random.Random(f"page-{page_id}")`` (str seeds
hash via SHA-512, stable across Python versions) — no shared RNG state, so
generation is order- and partitioning-independent.
"""

from __future__ import annotations

import hashlib
import html as html_lib
import random
from datetime import datetime, timedelta, timezone
from typing import Dict, Iterable, Iterator, List, Optional, Tuple

LEXICON_SEED = 42
N_SITES = 23
EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

# ---------------------------------------------------------------------------
# Word pools (fixed lists — the seeded RNG samples from these).
# ---------------------------------------------------------------------------
_GENUS = [
    "bacillus", "clostridium", "pseudomonas", "streptomyces", "lactobacillus",
    "escherichia", "salmonella", "vibrio", "shewanella", "geobacter",
    "methanococcus", "sulfolobus", "thermus", "deinococcus", "azotobacter",
    "rhizobium", "nitrosomonas", "desulfovibrio", "acetobacter", "micrococcus",
]
_SPECIES = [
    "subtilis", "brevis", "putida", "coelicolor", "acidophilus", "fergusonii",
    "enterica", "fischeri", "oneidensis", "metallireducens", "jannaschii",
    "solfataricus", "aquaticus", "radiodurans", "vinelandii", "meliloti",
    "europaea", "vulgaris", "aceti", "luteus", "halodurans", "pallidus",
]
_CHEM_A = [
    "glucose", "lactate", "citrate", "ethanol", "glycerol", "acetate",
    "pyruvate", "sucrose", "maltose", "xylose", "arabinose", "mannitol",
    "sorbitol", "fumarate", "succinate", "butyrate", "propionate",
    "limonene", "menthol", "catechol",
]
_CHEM_B = ["sodium", "calcium", "potassium", "magnesium", "ferric", "ammonium", "zinc", "copper"]
_CHEM_C = ["chloride", "sulfate", "nitrate", "phosphate", "carbonate", "acetate", "citrate", "oxide"]
_ENV = [
    "soil", "seawater", "sediment", "hot spring", "marine sediment",
    "rhizosphere", "compost", "freshwater", "hydrothermal vent", "permafrost",
    "wastewater", "activated sludge", "salt marsh", "peat bog", "glacier ice",
    "coral reef", "deep sea", "alkaline lake", "acid mine drainage", "groundwater",
]
_FILLER = (
    "the a of in and to for with on by from sample study result analysis "
    "growth culture strain isolate gene protein pathway rate level high low "
    "observed measured reported detected increased decreased community "
    "environment temperature condition medium agar broth colony assay "
    "sequence genome abundance diversity microbial bacterial archaeal"
).split()

STOPWORDS = ["culture", "medium", "sample", "strain"]  # P10 exclusion list


# ---------------------------------------------------------------------------
# Lexicon (driver-side, small — it's a broadcast dimension).
# ---------------------------------------------------------------------------

def build_lexicon() -> List[Dict]:
    """~320 terms across 3 ontology families + a SECONDARY family whose xrefs
    route to CHEBI (the DOID→MONDO xref-routing pattern, J9). Includes the
    FIXTURES.md edge cases: Greek letters, stereo prefixes, hydrates, a
    synonym/label collision, ~2% deprecated."""
    rng = random.Random(LEXICON_SEED)
    lex: List[Dict] = []

    # Taxa: genus + genus-species binomials.
    taxa_names: List[str] = list(_GENUS)
    pairs = [(g, s) for g in _GENUS for s in _SPECIES]
    rng.shuffle(pairs)
    taxa_names += [f"{g} {s}" for g, s in pairs[:80]]
    for i, name in enumerate(taxa_names):
        syns = []
        if rng.random() < 0.4:
            syns.append(name + " str " + str(rng.randint(1, 99)))
        lex.append(
            dict(
                curie=f"NCBITaxon:{1000 + i}",
                label=name,
                synonyms=syns,
                category="biolink:OrganismTaxon",
                xrefs=[],
                deprecated=rng.random() < 0.02,
            )
        )

    # Chemicals: simple names, salts, and edge-case forms.
    chem_names: List[str] = list(_CHEM_A)
    salt_pairs = [(b, c) for b in _CHEM_B for c in _CHEM_C]
    rng.shuffle(salt_pairs)
    chem_names += [f"{b} {c}" for b, c in salt_pairs[:70]]
    chem_names += [
        "β-d-glucopyranose",          # Greek letter (F1 parity)
        "(R)-limonene",               # stereo prefix
        "(S)-lactaldehyde",
        "D-xylulose",
        "calcium chloride x 2 H2O",   # hydrate suffix
        "magnesium sulfate · 7 H2O",
        "α-ketoglutarate",
    ]
    for i, name in enumerate(chem_names):
        syns = []
        if rng.random() < 0.5:
            syns.append(name + " anhydrous")
        lex.append(
            dict(
                curie=f"CHEBI:{2000 + i}",
                label=name,
                synonyms=syns,
                category="biolink:ChemicalEntity",
                xrefs=[],
                deprecated=rng.random() < 0.02,
            )
        )

    # Environments.
    env_names = list(_ENV) + [f"{a} {b}" for a, b in zip(_ENV[:10], ("zone", "layer", "site", "bed", "basin", "field", "plain", "ridge", "pool", "flat"))]
    for i, name in enumerate(env_names):
        lex.append(
            dict(
                curie=f"ENVO:{3000 + i}",
                label=name,
                synonyms=[],
                category="biolink:EnvironmentalFeature",
                xrefs=[],
                deprecated=rng.random() < 0.02,
            )
        )

    # SECONDARY ontology: labels unique, xref → CHEBI canonical (J9 routing).
    for i in range(12):
        target = f"CHEBI:{2000 + i}"
        lex.append(
            dict(
                curie=f"SECONDARY:{4000 + i}",
                label=f"legacy compound {i} name",
                synonyms=[],
                category="biolink:ChemicalEntity",
                xrefs=[target],
                deprecated=False,
            )
        )

    # Collision case (chemical_mapping_utils.py:229-237 analogue): one string
    # that is a synonym of term A but the canonical label of term B → rank-0
    # label must win at link time (W4).
    lex.append(
        dict(
            curie="CHEBI:9100",
            label="perillyl alcohol",
            synonyms=["dihydrocuminyl alcohol"],
            category="biolink:ChemicalEntity",
            xrefs=[],
            deprecated=False,
        )
    )
    lex.append(
        dict(
            curie="CHEBI:9101",
            label="dihydrocuminyl alcohol",
            synonyms=[],
            category="biolink:ChemicalEntity",
            xrefs=[],
            deprecated=False,
        )
    )
    return lex


def hub_terms(lexicon: List[Dict]) -> List[Tuple[str, float]]:
    """~20 (surface, probability) hubs appearing on 10-60% of pages — the
    skew drivers (FIXTURES.md §1)."""
    rng = random.Random(LEXICON_SEED + 1)
    active = [r for r in lexicon if not r["deprecated"] and not r["curie"].startswith("SECONDARY")]
    # pick a deterministic spread across the three families
    taxa = [r for r in active if r["category"] == "biolink:OrganismTaxon"][:8]
    chems = [r for r in active if r["category"] == "biolink:ChemicalEntity"][:7]
    envs = [r for r in active if r["category"] == "biolink:EnvironmentalFeature"][:5]
    out = []
    for r in taxa + chems + envs:
        out.append((r["label"], round(0.1 + 0.5 * rng.random(), 3)))
    return out


# N7 predicate routing: curated pair map first, category-pair default second,
# mint fallback last (madin_etal.py:362-439 analogue).
def curated_pair_predicates() -> Dict[Tuple[str, str], Tuple[str, str]]:
    lex = build_lexicon()
    taxa = [r["curie"] for r in lex if r["category"] == "biolink:OrganismTaxon"][:5]
    chems = [r["curie"] for r in lex if r["category"] == "biolink:ChemicalEntity"][:5]
    out: Dict[Tuple[str, str], Tuple[str, str]] = {}
    for t, c in zip(taxa, chems):
        out[(t, c)] = ("biolink:consumes", "RO:0002470")
    return out


CATEGORY_DEFAULT_PREDICATES: Dict[Tuple[str, str], Tuple[str, str]] = {
    ("biolink:OrganismTaxon", "biolink:ChemicalEntity"): ("biolink:interacts_with", "RO:0002434"),
    ("biolink:EnvironmentalFeature", "biolink:OrganismTaxon"): ("biolink:occurs_in", "RO:0002507"),
}
FALLBACK_PREDICATE = ("biolink:related_to", "biolink:related_to")


# ---------------------------------------------------------------------------
# Pages — pure function of page_id.
# ---------------------------------------------------------------------------

_LANGS = ["de", "fr", "es", "zh", "pt"]

_HTML_PREFIX = (
    "<html><head><title>synthetic corpus page</title></head><body>"
    "<nav><a href=\"/\">home</a><a href=\"/about\">about</a></nav><main>"
)
_HTML_SUFFIX = "</main><footer>generated corpus — no rights reserved</footer></body></html>"


def url_for(page_id: int) -> str:
    # a few % of pages share the previous page's url (cross-warc_ts dup →
    # exercises the url dedup in Stage 1).
    if page_id % 41 == 7 and page_id > 0:
        return url_for(page_id - 1)
    h = hashlib.md5(f"page-{page_id}".encode()).hexdigest()[:16]
    return f"https://site{page_id % N_SITES}.example/{h}"


def page_record(page_id: int, lexicon: Optional[List[Dict]] = None, hubs: Optional[List[Tuple[str, float]]] = None) -> Dict:
    """Generate one page. ``lexicon``/``hubs`` may be passed to avoid
    rebuilding them per call (they are globally fixed)."""
    lexicon = lexicon if lexicon is not None else build_lexicon()
    hubs = hubs if hubs is not None else hub_terms(lexicon)
    rng = random.Random(f"page-{page_id}")

    n_sent = rng.randint(1, 50)
    sentences: List[List[str]] = [
        [rng.choice(_FILLER) for _ in range(rng.randint(4, 12))] for _ in range(n_sent)
    ]

    # plant hub mentions
    for surface, prob in hubs:
        if rng.random() < prob:
            s = rng.randrange(n_sent)
            pos = rng.randint(0, len(sentences[s]))
            sentences[s].insert(pos, surface)
    # plant 0-5 tail mentions (label or synonym)
    active = [r for r in lexicon if not r["deprecated"]]
    for _ in range(rng.randint(0, 5)):
        row = active[rng.randrange(len(active))]
        choices = [row["label"]] + list(row["synonyms"])
        surface = choices[rng.randrange(len(choices))]
        s = rng.randrange(n_sent)
        pos = rng.randint(0, len(sentences[s]))
        sentences[s].insert(pos, surface)

    text = ". ".join(" ".join(words) for words in sentences) + "."
    lang = "en" if rng.random() < 0.95 else rng.choice(_LANGS)
    html_bytes = (_HTML_PREFIX + html_lib.escape(text) + _HTML_SUFFIX).encode("utf-8")
    # ~10% of rows ship without pre-extracted text (extraction must fill in)
    text_col = None if rng.random() < 0.10 else text
    return dict(
        url=url_for(page_id),
        warc_ts=EPOCH + timedelta(seconds=page_id),
        html=html_bytes,
        text=text_col,
        lang=lang,
    )


def extract_text_from_html(html_bytes: Optional[bytes]) -> Optional[str]:
    """The pinned, versioned extraction function (north rule: byte-identical
    per url). Pure Python, zero external deps, identical on driver/executors:
    take the first <main>…</main> span, HTML-unescape it."""
    if html_bytes is None:
        return None
    s = html_bytes.decode("utf-8", errors="strict")
    start = s.find("<main>")
    if start < 0:
        return None
    start += len("<main>")
    end = s.find("</main>", start)
    if end < 0:
        return None
    return html_lib.unescape(s[start:end])


def iter_pages(n: int) -> Iterator[Dict]:
    lex = build_lexicon()
    hubs = hub_terms(lex)
    for pid in range(n):
        yield page_record(pid, lex, hubs)


# ---------------------------------------------------------------------------
# Spark-side constructors.
# ---------------------------------------------------------------------------

def lexicon_df(spark):
    from kg_microbe_spark.schemas import LEXICON_SCHEMA
    from kg_microbe_spark.session import local_frame

    rows = [
        (r["curie"], r["label"], r["synonyms"], r["category"], r["xrefs"], r["deprecated"])
        for r in build_lexicon()
    ]
    return local_frame(spark, rows, LEXICON_SCHEMA)


def pages_df(spark, n: int, num_partitions: Optional[int] = None):
    """Distributed generator: mapInPandas over spark.range(n). Each task
    regenerates only its page_ids — deterministic under any partitioning."""
    import pandas as pd

    from kg_microbe_spark.schemas import PAGES_SCHEMA

    num_partitions = num_partitions or max(8, spark.sparkContext.defaultParallelism)

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lex = build_lexicon()
        hubs = hub_terms(lex)
        for pdf in batches:
            recs = [page_record(int(pid), lex, hubs) for pid in pdf["id"]]
            out = pd.DataFrame.from_records(recs)
            out["warc_ts"] = out["warc_ts"].dt.tz_localize(None)
            yield out[["url", "warc_ts", "html", "text", "lang"]]

    return spark.range(0, n, numPartitions=num_partitions).mapInPandas(gen, PAGES_SCHEMA)
