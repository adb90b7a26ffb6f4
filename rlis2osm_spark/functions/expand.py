"""Street/trail name abbreviation expansion (SURVEY.md §2.2, P1-P8).

Semantics reproduced from the reference's ``StreetNameExpander``
(/root/reference/rlis2osm/expand.py:4-196) and its RLIS special cases
(/root/reference/rlis2osm/main.py:22-44) — fresh implementation, Spark-first:

- whole-value DIRECTION/TYPE expansion (P1-P3) is a **native column
  expression** (literal ``create_map`` + null-safe upper lookup) — JVM-side,
  whole-stage codegen, no Python;
- positional ``basename`` expansion (P4-P6, P8) keeps separator runs intact
  (``re.split('([ /]+)')``), so it runs as an **Arrow UDF** over the
  three constant positional dicts (P5), once per distinct name in each
  Arrow batch.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import StringType

from rlis2osm_spark.functions.titlecase_port import rlis_titlecase

# ---------------------------------------------------------------------------
# Abbreviation tables (data, not code — domains from expand.py:5-88 and
# main.py:22-44; these are public US street-abbreviation conventions)
# ---------------------------------------------------------------------------

DIRECTION_EXPANSIONS = {
    "N": "North", "NE": "Northeast", "E": "East", "SE": "Southeast",
    "S": "South", "SW": "Southwest", "W": "West", "NW": "Northwest",
    "NB": "Northbound", "EB": "Eastbound", "SB": "Southbound",
    "WB": "Westbound",
}

TYPE_EXPANSIONS = {
    "ALY": "Alley", "AV": "Avenue", "AVE": "Avenue", "BLVD": "Boulevard",
    "BR": "Bridge", "BRG": "Bridge", "BYP": "Bypass", "CIR": "Circle",
    "CORR": "Corridor", "CRST": "Crest", "CT": "Court", "DR": "Drive",
    "EXPY": "Expressway", "EXT": "Extension", "FRTG": "Frontage Road",
    "FWY": "Freeway", "HTS": "Heights", "HWY": "Highway", "LN": "Lane",
    "LNDG": "Landing", "PKWY": "Parkway", "PL": "Place", "PT": "Point",
    "RD": "Road", "RDG": "Ridge", "RR": "Railroad", "SMT": "Summit",
    "SQ": "Square", "ST": "Street", "TER": "Terrace", "TERR": "Terrace",
    "TRL": "Trail", "VIA": "Viaduct", "VW": "View", "WY": "Way",
}

# (abbr, expansion, placements) — placements: a=any, f=first, m=middle, l=last
BASENAME_EXPANSIONS = [
    ("ASSN", "Association", "a"),
    ("CC", "Community College", "ml"),
    ("ES", "Elementary School", "ml"),
    ("FT", "Foot", "fm"),
    ("HOA", "Homeowners Association", "a"),
    ("HOSP", "Hospital", "a"),
    ("HMWRS", "Homeowners", "a"),
    ("INC", "Incorporated", "ml"),
    ("JR", "Junior", "a"),
    ("LDS", "Latter Day Saints", "a"),
    ("LLC", "Limited Liability Company", "a"),
    ("MED", "Medical", "ml"),
    ("MLK", "Martin Luther King", "a"),
    ("MS", "Middle School", "ml"),
    ("MT", "Mount", "fm"),
    ("MT", "Mountain", "l"),
    ("MTN", "Mountain", "a"),
    ("NFD", "Nation Forest Development Road", "a"),
    ("PED", "Pedestrian", "a"),
    ("RR", "Railroad", "ml"),
    ("ST", "Saint", "f"),
    ("TC", "Transit Center", "a"),
    ("US", "United States", "a"),
    ("VA", "Veteran Affairs", "f"),
]

# RLIS-regional special cases over the basename table (main.py:22-44, P6)
RLIS_SPECIAL_CASES = [
    ("AM", "Archibald M", "fm"),
    ("HM", "Howard M", "fm"),
    ("JQ", "John Quincy", "fm"),
    ("UJ", "Ulin J", "fm"),
    ("BES", "Bureau of Environmental Services", "a"),
    ("BPA", "Bonneville Power Administration", "a"),
    ("MAX", "Metropolitan Area Express", "a"),
    ("NCPRD", "North Clackamas Parks & Recreation District", "a"),
    ("PCC", "Portland Community College", "a"),
    ("PKW", "Peterkort Woods", "fm"),
    ("PSU", "Portland State University", "a"),
    ("THPRD", "Tualatin Hills Park & Recreation District", "a"),
    ("TVWD", "Tualatin Valley Water District", "a"),
    ("WES", "Westside Express Service", "a"),
    ("WSU", "Washington State University", "a"),
    ("CO", "County", "f"),
]


def build_positional_dicts():
    """Plan-time constant folding of the three positional lookup tables (P5),
    RLIS special cases included.

    Mirrors expand.py:102-137: ``first``/``last`` include the full DIRECTION
    table, ``middle`` only multi-letter directions; TYPE everywhere; BASENAME
    placements layered last so they override TYPE/DIRECTION entries.
    """
    multi_letter_dirs = {
        k: v for k, v in DIRECTION_EXPANSIONS.items() if len(k) > 1
    }
    rows = list(BASENAME_EXPANSIONS) + RLIS_SPECIAL_CASES

    by_first: dict[str, str] = {}
    by_middle: dict[str, str] = {}
    by_last: dict[str, str] = {}
    for abbr, expansion, placements in rows:
        for p in placements:
            if p == "a":
                by_first[abbr] = expansion
                by_middle[abbr] = expansion
                by_last[abbr] = expansion
                break
            if p == "f":
                by_first[abbr] = expansion
            elif p == "m":
                by_middle[abbr] = expansion
            elif p == "l":
                by_last[abbr] = expansion

    return {
        "first": {**DIRECTION_EXPANSIONS, **TYPE_EXPANSIONS, **by_first},
        "middle": {**multi_letter_dirs, **TYPE_EXPANSIONS, **by_middle},
        "last": {**DIRECTION_EXPANSIONS, **TYPE_EXPANSIONS, **by_last},
    }


# ---------------------------------------------------------------------------
# P1-P3: whole-value expansion as native column expressions
# ---------------------------------------------------------------------------


def literal_map(mapping: dict) -> Column:
    """A literal map column with ``mapping``'s keys and values, in order."""
    pairs = []
    for k, v in mapping.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    return F.create_map(*pairs)


def _null_safe_lookup(map_col: Column, value: Column) -> Column:
    # expand.py:183-187: '' if None, .upper(), .get(key, original)
    key = F.upper(F.coalesce(value.cast("string"), F.lit("")))
    return F.coalesce(F.element_at(map_col, key), value)


def expand_direction(col: Column) -> Column:
    """P1: N->North ... WB->Westbound, fall back to input (expand.py:180-187)."""
    return _null_safe_lookup(literal_map(DIRECTION_EXPANSIONS), col)


def expand_type(col: Column) -> Column:
    """P2: 34 street-type abbreviations (expand.py:177-178, 23-59)."""
    return _null_safe_lookup(literal_map(TYPE_EXPANSIONS), col)


# ---------------------------------------------------------------------------
# P4/P8: positional basename expansion (Arrow UDF)
# ---------------------------------------------------------------------------

_SEPARATORS = (" ", "/")
_SPLIT_RX = re.compile("([%s]+)" % "".join(_SEPARATORS))


def expand_basename_py(name: str | None,
                       dicts: dict[str, dict[str, str]]) -> str | None:
    """Pure-Python basename expansion, reference-faithful (expand.py:139-175).

    Key rules: periods stripped first; split at ``-`` into independently
    expanded parts; each part tokenized on ``([ /]+)`` *keeping* separator
    runs; positional first/last dicts apply only when a part has >2 words,
    otherwise every word probes the middle dict; multi-char separator runs
    count as words for position numbering (faithful to the membership test
    ``w not in separators`` on the raw token).
    """
    if not name:
        return name

    out_parts = []
    for part in name.replace(".", "").split("-"):
        tokens = _SPLIT_RX.split(part.strip())
        n_words = len([t for t in tokens if t and t not in _SEPARATORS])
        pos = 1
        rebuilt = []
        for tok in tokens:
            if tok and tok not in _SEPARATORS:
                probe = tok.upper()
                if pos == 1 and n_words > 2:
                    tok = dicts["first"].get(probe, tok)
                elif pos == n_words and n_words > 2:
                    tok = dicts["last"].get(probe, tok)
                else:
                    tok = dicts["middle"].get(probe, tok)
                pos += 1
            rebuilt.append(tok)
        out_parts.append("".join(rebuilt))

    return "-".join(out_parts)


def _each_distinct(fn, names: pa.Array) -> pa.Array:
    """``fn`` over an Arrow batch of strings, run once per distinct value
    and taken back to the rows: RLIS repeats a name on every segment of a
    street, so a batch holds far fewer names than rows. A null row gets
    ``fn(None)`` when that is not None, else stays null."""
    enc = names.dictionary_encode()
    out = pa.array([fn(s) for s in enc.dictionary.to_pylist()],
                   pa.string()).take(enc.indices)
    blank = fn(None)
    return out if blank is None else out.fill_null(blank)


_POSITIONAL = build_positional_dicts()


@arrow_udf(StringType())
def basename_expand(names: pa.Array) -> pa.Array:
    """P4 over an Arrow batch, with the positional dicts folded once (P5/P6);
    a null name stays null."""
    return _each_distinct(lambda n: expand_basename_py(n, _POSITIONAL), names)


@arrow_udf(StringType())
def titlecase_name(names: pa.Array) -> pa.Array:
    """P7: streets-only OSM-name titlecasing over an Arrow batch (the
    ported rules of functions/titlecase_port.py); a null name gives ''
    (not null), as main.py:90 does."""
    return _each_distinct(rlis_titlecase, names)
