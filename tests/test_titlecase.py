"""Parity tests for the titlecase port (FIXTURES.md §6.1; reference
main.py:90-91,145-168)."""

import pytest

from rlis2osm_spark.functions.titlecase_port import rlis_titlecase


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("NORTHWEST EVERETT STREET", "Northwest Everett Street"),
        ("45TH AVENUE", "45th Avenue"),  # digit-led word returned unchanged
        ("99W HIGHWAY", "99w Highway"),  # .upper() discarded -> stays lower
        (None, ""),  # null name -> '' (main.py:90)
        ("", ""),
        ("AVENUE OF THE STATES", "Avenue of the States"),
        ("MARTIN LUTHER KING JUNIOR BOULEVARD",
         "Martin Luther King Junior Boulevard"),
        # edited small-word list: 'with' lowercased, 'v' capitalized
        ("HIGHWAY WITH A VIEW", "Highway with a View"),
        ("JOHN V SMITH", "John V Smith"),
        # hyphenated compound from dash-delimited names (no spaces)
        ("GARDENIA STREET-EAST STREET CONNECTOR",
         "Gardenia Street-East Street Connector"),
        ("GOING/GREELEY COURT", "Going/Greeley Court"),
        # small word first/last gets capitalized
        ("THE RAMP", "The Ramp"),
        ("MCDONALD STREET", "McDonald Street"),
    ],
)
def test_rlis_titlecase(raw, expected):
    # pipeline always lowercases before titlecase (main.py:90)
    assert rlis_titlecase(raw) == expected


def test_word_memo_stays_under_cap_and_matches_unmemoized(monkeypatch):
    from rlis2osm_spark.functions import titlecase_port as tp

    cap = 64
    monkeypatch.setattr(tp, "_WORD_MEMO_CAP", cap)
    monkeypatch.setattr(tp, "_WORD_MEMO", {})
    names = ["%s STREET %dTH NW" % ("AB" * (i % 7 + 1) + str(i), i)
             for i in range(400)]
    sizes = []
    for name in names + names[::3]:
        got = tp.rlis_titlecase(name)
        assert got == tp.titlecase(name.lower(),
                                   callback=tp.number_after_letter)
        sizes.append(len(tp._WORD_MEMO))
    assert max(sizes) <= cap
    # evictions drop part of the memo, not all of it
    assert min(sizes[len(sizes) // 2:]) >= cap * 3 // 4
