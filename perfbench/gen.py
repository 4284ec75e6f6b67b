"""Seeded SKOS bindings generator for the harvest workloads.

Writes SPARQL-result-shaped bindings (the `Schemas.bindings` parquet layout:
concept, prefLabel, altLabel, definition; one row per altLabel value) for two
snapshots of one collection, "week 0" and "week 1", and computes the counters
`HarvestJob.run` must report and the row counts the SQLite artifact must hold.
The expectations come from the generator's own data model, never from the
program.

Week 0: `n` concepts, 0-3 altLabels each, ~5% `ftp:` URIs (rejected by the
URI gate), ~5% unbound prefLabel, ~20% unbound definition, ~2% duplicate rows.
Week 1, the same collection a week later: ~1% of concepts dropped, ~5% with
changed labels, ~5% new, the rest unchanged.
"""

import random

import pyarrow as pa
import pyarrow.parquet as pq

SKOS = "http://www.w3.org/2004/02/skos/core#"
FIELDS = ("prefLabel", "altLabel", "definition")

_WORDS = (
    "sea surface temperature salinity dissolved oxygen nitrate phosphate silicate "
    "chlorophyll pigment biomass zooplankton phytoplankton abundance concentration "
    "sediment pore water particulate organic carbon nitrogen flux current velocity "
    "eastward northward upward component depth pressure density conductivity "
    "turbidity irradiance backscatter fluorescence attenuation coefficient sample "
    "bottle niskin ctd mooring drifter glider profile bed layer mixed thermocline "
    "halocline benthic pelagic larvae adult juvenile specimen taxon species genus "
    "wet dry weight length count per unit volume area filtered sieved acidified "
    "frozen preserved formalin ethanol lugol gravimetric titration spectrophotometry "
    "température salinité Ångström µmol/kg °C ‰ São Tomé Kiel Bight Rockall Trough"
).split()
_UNITS = ("[mg/l]", "[µmol/l]", "[degC]", "[m/s]", "[dbar]", "[%]", "[PSU]", "")


class _Concept:
    __slots__ = ("uri", "pref", "alts", "defn")

    def __init__(self, uri, pref, alts, defn):
        self.uri, self.pref, self.alts, self.defn = uri, pref, alts, defn


def _phrase(rng, lo, hi):
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _labels(rng):
    pref = None if rng.random() < 0.05 else (_phrase(rng, 3, 7) + " " + rng.choice(_UNITS)).strip()
    alts = []
    for _ in range(rng.randint(0, 3)):
        alt = _phrase(rng, 1, 4)
        if alt not in alts:
            alts.append(alt)
    return pref, alts


def _concept(rng, i):
    scheme = "ftp" if rng.random() < 0.05 else rng.choice(("http", "http", "https"))
    code = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(4)) + f"{i:07d}"
    uri = f"{scheme}://vocab.nerc.ac.uk/collection/P01/current/{code}/"
    pref, alts = _labels(rng)
    defn = None if rng.random() < 0.20 else _phrase(rng, 8, 30) + "."
    return _Concept(uri, pref, alts, defn)


def _rows(rng, concepts):
    rows = []
    for c in concepts:
        if c.alts:
            rows.extend((c.uri, c.pref, a, c.defn) for a in c.alts)
        else:
            rows.append((c.uri, c.pref, None, c.defn))
    rows.extend(rng.sample(rows, len(rows) // 50))  # ~2% exact duplicate rows
    rng.shuffle(rows)
    return rows


def _write(rows, path):
    cols = list(zip(*rows))
    table = pa.table(
        {name: pa.array(col, type=pa.string()) for name, col in zip(("concept",) + FIELDS, cols)},
        schema=pa.schema([pa.field("concept", pa.string(), nullable=False)]
                         + [pa.field(f, pa.string()) for f in FIELDS]))
    pq.write_table(table, path)


def _valid(uri):
    return uri is not None and (uri.startswith("http://") or uri.startswith("https://"))


def _model(rows):
    """(valid distinct rows, distinct valid concepts, melted field keys)."""
    valid = {r for r in rows if _valid(r[0])}
    terms = {r[0] for r in valid}
    fields = set()
    for r in valid:
        for name, value in zip(FIELDS, r[1:]):
            if value is not None:
                fields.add((r[0], SKOS + name, value))
    return valid, terms, fields


def _expect(rows, base_terms, base_fields):
    valid, terms, fields = _model(rows)
    new_fields = fields - base_fields
    all_terms = base_terms | terms
    all_fields = base_fields | fields
    return {
        "result": {
            "bindingsRead": len(rows),
            "validRows": len(valid),
            "distinctTerms": len(terms),
            "termsInserted": len(terms - base_terms),
            "termsUpdated": len(terms & base_terms),
            "fieldsInserted": len(new_fields),
        },
        # melted field candidates: the denominator of Merge's useful ratio
        "fieldCandidates": len(fields),
        "sqlite": {
            "terms": len(all_terms),
            "term_fields": len(all_fields),
            "translations": 0, "appeals": 0, "appeal_messages": 0, "users": 0,
            "sqlite_sequence": int(bool(all_terms)) + int(bool(all_fields)),
        },
    }


def generate(seed, n, out_dir):
    """Write week0.parquet and week1.parquet under `out_dir`; return the
    expectations for `harvest_full` (week 0 into an empty store) and
    `harvest_refresh` (week 1 onto the week-0 store)."""
    rng = random.Random(seed)
    week0 = [_concept(rng, i) for i in range(n)]
    rows0 = _rows(rng, week0)

    week1 = []
    for c in week0:
        u = rng.random()
        if u < 0.01:
            continue  # dropped from the collection
        if u < 0.06:
            pref, alts = _labels(rng)
            c = _Concept(c.uri, pref, alts, c.defn)  # labels changed
        week1.append(c)
    week1.extend(_concept(rng, i) for i in range(n, n + n // 20))  # new concepts
    rows1 = _rows(rng, week1)

    _write(rows0, f"{out_dir}/week0.parquet")
    _write(rows1, f"{out_dir}/week1.parquet")
    _, base_terms, base_fields = _model(rows0)
    return {
        "harvest_full": _expect(rows0, set(), set()),
        "harvest_refresh": _expect(rows1, base_terms, base_fields),
    }
