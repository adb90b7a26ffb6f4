"""Pure-Python port of the ``titlecase`` PyPI package (>=0.8.1) semantics.

The reference titlecases street names via ``titlecase(name, callback=...)``
with an edited small-word list (/root/reference/rlis2osm/main.py:90-91,
145-168; dependency pin /root/reference/setup.py `titlecase>=0.8.1`). That
package is not installed in this environment, so this module reimplements its
rules (John Gruber's title.py as ported to Python by Stuart Colville /
Pat Pannuto) from its published behavior, plus the reference's two
customizations:

1. small-word list edit — keep ``v`` capitalized, lowercase ``with``
   (main.py:147-150);
2. digit-led-word callback — words like ``45th`` / ``99w`` bypass titlecase's
   default handling and are returned *unchanged* (the ``.lower()`` /
   ``.upper()`` results at main.py:159,162 are discarded — a documented parity
   quirk, FIXTURES.md §6.1).

Run by the Arrow UDF ``expand.titlecase_name``, once per distinct name in
a batch — never per-row
Python at the Spark layer.
"""

from __future__ import annotations

import itertools
import re

SMALL_BASE = r"a|an|and|as|at|but|by|en|for|if|in|of|on|or|the|to|v\.?|via|vs\.?"
PUNCT = r"""!"#$%&'‘()*+,\-–‒—―./:;?@[\\\]_`{|}~"""

# reference edit: drop 'v', add 'with' (main.py:147-149)
RLIS_SMALL = SMALL_BASE.replace(r"|v\.?|", "|") + "|with"


def _compile(small: str):
    return {
        "small_words": re.compile(r"^(%s)$" % small, re.I),
        "inline_period": re.compile(r"[a-z][.][a-z]", re.I),
        "uc_elsewhere": re.compile(r"[%s]*?[a-zA-Z]+[A-Z]+?" % PUNCT),
        "capfirst": re.compile(r"^[%s]*?([A-Za-z])" % PUNCT),
        "small_first": re.compile(r"^([%s]*)(%s)\b" % (PUNCT, small), re.I),
        "small_last": re.compile(r"\b(%s)[%s]?$" % (small, PUNCT), re.I),
        "subphrase": re.compile(r"([:.;?!][ ])(%s)" % small),
        "apos_second": re.compile(r"^[dol]['‘][a-z]+(?:['s]{2})?$", re.I),
        "all_caps": re.compile(r"^[A-Z\s%s]+$" % PUNCT),
        "uc_initials": re.compile(r"^(?:[A-Z]\.|[A-Z]\.[A-Z])+$"),
        "mac_mc": re.compile(r"^([Mm]a?c)(\w+)"),
    }


_RLIS_RX = _compile(RLIS_SMALL)
_DEFAULT_RX = _compile(SMALL_BASE)


# r7 (guide §4.5 heavyweight state once per task): word-level result memo
# for the rlis path. Street-name WORD vocabulary is tiny even when full
# names are all distinct, and each word's transformation is a pure function
# of (word, all_caps, small_first_last) — every branch of the word loop
# appends exactly one string. The module-level dict survives across tasks
# in a reused Python worker, so it is capped: past _WORD_MEMO_CAP words the
# oldest entries are evicted, never the whole memo. Only rlis_titlecase
# passes it (the memo key does not encode callback/rx, which are fixed on
# that path).
_WORD_MEMO: dict = {}
_WORD_MEMO_CAP = 1 << 16


def titlecase(text: str, callback=None, small_first_last: bool = True,
              _rx=None, _memo=None) -> str:
    rx = _rx or _RLIS_RX
    lines = re.split(r"[\r\n]+", text)
    processed = []
    for line in lines:
        all_caps = bool(rx["all_caps"].match(line))
        words = re.split(r"[\t ]", line)
        tc_line = []
        _pending = []  # (memo key, output index) for words computed below
        for word in words:
            if _memo is not None:
                _key = (word, all_caps, small_first_last)
                _hit = _memo.get(_key)
                if _hit is not None:
                    tc_line.append(_hit)
                    continue
                _pending.append((_key, len(tc_line)))
            if callback:
                new_word = callback(word, all_caps=all_caps)
                if new_word:
                    tc_line.append(new_word)
                    continue

            if all_caps:
                if rx["uc_initials"].match(word):
                    tc_line.append(word)
                    continue
                word = word.lower()

            if rx["apos_second"].match(word):
                word = word[0].upper() + word[1] + word[2].upper() + word[3:]
                tc_line.append(word)
                continue

            match = rx["mac_mc"].match(word)
            if match:
                tc_line.append(
                    match.group(1).capitalize()
                    + titlecase(match.group(2), callback, True, _rx=rx)
                )
                continue

            if rx["inline_period"].search(word) or (
                not all_caps and rx["uc_elsewhere"].match(word)
            ):
                tc_line.append(word)
                continue
            if rx["small_words"].match(word):
                tc_line.append(word.lower())
                continue

            if "/" in word and "//" not in word:
                slashed = [titlecase(t, callback, False, _rx=rx) for t in word.split("/")]
                tc_line.append("/".join(slashed))
                continue

            if "-" in word:
                hyphenated = [
                    titlecase(t, callback, small_first_last, _rx=rx)
                    for t in word.split("-")
                ]
                tc_line.append("-".join(hyphenated))
                continue

            tc_line.append(rx["capfirst"].sub(lambda m: m.group(0).upper(), word))

        if _memo is not None and _pending:
            # store BEFORE the small_first/last fixes below — those rewrite
            # tc_line[0]/[-1] per line position, which the key does not
            # (and must not) encode
            for _k, _i in _pending:
                _memo[_k] = tc_line[_i]
            if len(_memo) > _WORD_MEMO_CAP:
                # drop the oldest quarter (dict insertion order) in one
                # batch; the rest of the vocabulary stays resident
                _drop = len(_memo) - _WORD_MEMO_CAP + _WORD_MEMO_CAP // 4
                for _k in list(itertools.islice(_memo, _drop)):
                    del _memo[_k]

        if small_first_last and tc_line:
            tc_line[0] = rx["small_first"].sub(
                lambda m: "%s%s" % (m.group(1), m.group(2).capitalize()), tc_line[0]
            )
            tc_line[-1] = rx["small_last"].sub(
                lambda m: m.group(0).capitalize(), tc_line[-1]
            )

        result = " ".join(tc_line)
        result = rx["subphrase"].sub(
            lambda m: "%s%s" % (m.group(1), m.group(2).capitalize()), result
        )
        processed.append(result)

    return "\n".join(processed)


def number_after_letter(word, **kwargs):
    """The reference's titlecase callback (main.py:152-168).

    For digit-led words ending in a letter the callback *returns the word
    unchanged* — the internal ``.lower()``/``.upper()`` calls in the reference
    discard their results (main.py:159,162). Reproduced bit-for-bit.
    """
    if word and word[0].isdigit() and word[-1].isalpha():
        return word
    return None


def rlis_titlecase(name: str | None) -> str:
    """Streets-only name titlecasing exactly as main.py:90-91.

    Null name -> '' via ``(None or '').lower()``; the empty string survives
    until the sink drops empty tags (repair_keys.py:20).
    """
    return titlecase((name or "").lower(), callback=number_after_letter,
                     _memo=_WORD_MEMO)
