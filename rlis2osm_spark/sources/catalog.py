"""Source-text decoding at scan time: the reference reads every .dbf
attribute as cp1252 (main.py:20,70); ``decode_text_columns`` repairs the
same bytes natively over a parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType


# cp1252 == latin-1 except bytes 0x80-0x9F, which map to these printable
# chars (5 bytes are undefined in cp1252 and pass through). Spark's decode()
# whitelists only iso-8859-1/utf-* charsets, so cp1252 = decode(latin-1) +
# one native translate() of this block — exact and 100% JVM-side.
_CP1252_FROM, _CP1252_TO = zip(*[
    (chr(b), bytes([b]).decode("cp1252"))
    for b in range(0x80, 0xA0)
    if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
])
_CP1252_FROM, _CP1252_TO = "".join(_CP1252_FROM), "".join(_CP1252_TO)


def decode_text_columns(df: DataFrame, encoding: str = "cp1252",
                        columns: list[str] | None = None) -> DataFrame:
    """Source-encoding repair at scan time (SURVEY §1.4; the reference
    decodes every .dbf attribute from cp1252 — main.py:20,70 / its
    ``str(value).decode('cp1252')``).

    Two shapes occur in practice, both handled natively (no UDF):

    - binary columns carrying the raw cp1252 bytes -> latin-1 decode +
      0x80-0x9F translate;
    - string columns that were mis-read byte-per-char (the classic
      latin-1-mangled mojibake) -> the same translate directly (the C1
      block chars ARE the mis-read bytes; genuine text never contains C1
      control characters, so the repair is lossless).

    ``columns=None`` applies to every binary/string column.
    """
    if encoding.lower() not in ("cp1252", "windows-1252", "latin-1",
                                "iso-8859-1"):
        raise ValueError(f"unsupported source encoding: {encoding}")
    fix = (encoding.lower() in ("cp1252", "windows-1252"))

    def repair(col):
        return F.translate(col, _CP1252_FROM, _CP1252_TO) if fix else col

    out = []
    for f_ in df.schema.fields:
        if columns is not None and f_.name not in columns:
            out.append(F.col(f"`{f_.name}`"))
        elif isinstance(f_.dataType, BinaryType):
            out.append(
                repair(F.decode(F.col(f"`{f_.name}`"), "ISO-8859-1"))
                .alias(f_.name))
        elif isinstance(f_.dataType, StringType):
            out.append(repair(F.col(f"`{f_.name}`")).alias(f_.name))
        else:
            out.append(F.col(f"`{f_.name}`"))
    return df.select(*out)
