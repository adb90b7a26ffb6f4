"""Interleaved text+media document operations (BASELINE.json input_hint).

The engine-native table is ``documents(doc_id string, spans
array<struct<kind,text,media_ref,offset>>)`` with a sidecar ``media`` blob
table. Every operator here is a native column expression over the spans
array (higher-order functions — no explode/shuffle for per-doc work, no
Python); ``span_signature`` is the **span-sequence invariant** (kind,
text, media_ref, order) per document that any rewrite must preserve.

At 100 TB the documents and media tables are Iceberg tables bucketed by
``doc_id`` / ``media_ref`` so the doc<->media join is co-partitioned.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def media_refs(spans: Column) -> Column:
    """All media refs of a document, in span order."""
    return F.transform(
        F.filter(spans, lambda s: s["kind"] == F.lit("media")),
        lambda s: s["media_ref"],
    )


def first_media_ref(spans: Column) -> Column:
    return F.element_at(media_refs(spans), 1)


def span_signature(spans: Column) -> Column:
    """The per-document invariant tuple sequence: (kind, text, media_ref)
    in offset order — transforms must preserve it exactly."""
    ordered = F.array_sort(
        spans, lambda a, b: a["offset"].cast("int") - b["offset"].cast("int")
    )
    return F.transform(
        ordered,
        lambda s: F.concat_ws(
            "\x1f",
            F.coalesce(s["kind"], F.lit("\x00")),
            F.coalesce(s["text"], F.lit("\x00")),
            F.coalesce(s["media_ref"], F.lit("\x00")),
        ),
    )


def attach_geometry(docs: DataFrame, media: DataFrame) -> DataFrame:
    """Join each document to its geometry payload via the first media span.

    At scale: both tables bucketed by the join key -> no shuffle; locally a
    plain equi-join (broadcast if the media side is small)."""
    keyed = docs.withColumn("media_ref", first_media_ref(F.col("spans")))
    m = media.select("media_ref", F.col("payload").alias("geometry"))
    return keyed.join(m, "media_ref", "left")
