"""Interleaved-document operations + span-sequence invariant (BASELINE.json
input_hint) + checkpoint resume."""

from pyspark.sql import functions as F

from rlis2osm_spark.pipeline import tile_assignment, tile_rollup
from rlis2osm_spark.plans.checkpoint import Checkpointer
from rlis2osm_spark.sources.documents import (
    explode_spans,
    first_media_ref,
    reassemble_spans,
    span_signature,
    text_attrs,
)


def _docs(spark, synth_dir):
    return spark.read.parquet(f"{synth_dir}/documents_rlis.parquet")


def _media(spark, synth_dir):
    return spark.read.parquet(f"{synth_dir}/media.parquet")


def test_text_attrs_and_media_ref(spark, synth_dir):
    docs = _docs(spark, synth_dir)
    row = (
        docs.filter(F.col("doc_id") == "streets:0")
        .select(
            text_attrs(F.col("spans")).alias("attrs"),
            first_media_ref(F.col("spans")).alias("ref"),
        )
        .collect()[0]
    )
    assert row.ref == "geom:streets:0"
    assert "TYPE" in row.attrs
    assert int(row.attrs["LOCALID"]) == 100000


def test_span_invariant_roundtrip(spark, synth_dir):
    """explode -> shuffle -> reassemble preserves (kind, text, media_ref,
    order) per document exactly."""
    docs = _docs(spark, synth_dir)
    rebuilt = reassemble_spans(explode_spans(docs).repartition(7, "kind"))
    joined = docs.select(
        "doc_id", span_signature(F.col("spans")).alias("sig_in")
    ).join(
        rebuilt.select("doc_id", span_signature(F.col("spans")).alias("sig_out")),
        "doc_id",
    )
    bad = joined.filter(F.col("sig_in") != F.col("sig_out")).count()
    assert bad == 0
    assert joined.count() == docs.count()


def test_tile_assignment_flagship(spark, synth_dir):
    docs, media = _docs(spark, synth_dir), _media(spark, synth_dir)
    tiled = tile_assignment(docs, media, res=10)
    n = tiled.count()
    assert n == docs.count()
    got = tiled.filter(F.col("cell").isNull()).count()
    assert got == 0
    # invariant column matches source spans
    chk = tiled.select(
        "doc_id",
        (span_signature(F.col("spans")) == F.col("span_sig")).alias("ok"),
    )
    assert chk.filter(~F.col("ok")).count() == 0
    roll = tile_rollup(tiled)
    assert roll.agg(F.sum("n_docs")).collect()[0][0] == n


def test_checkpoint_resume(spark, synth_dir, tmp_path):
    docs = _docs(spark, synth_dir)
    calls = []

    def build():
        calls.append(1)
        return docs.select("doc_id")

    ck = Checkpointer(spark, str(tmp_path), "t")
    out1 = ck.stage("ids", build)
    n1 = out1.count()
    ck2 = Checkpointer(spark, str(tmp_path), "t")
    out2 = ck2.stage("ids", build)  # resumed: build not called again
    assert len(calls) == 1
    assert out2.count() == n1
    assert ck2.report()[0]["resumed"] is True
    assert ck2.report()[0]["row_count"] == n1
    assert ck2.report()[0]["partition_rows"]
    ck2.invalidate("ids")
    ck2.stage("ids", build)
    assert len(calls) == 2


def test_salted_rollup_matches_unsalted(spark, synth_dir):
    """Two-phase salted aggregation is value-identical to the plain path."""
    from rlis2osm_spark.pipeline import tile_rollup_salted

    docs, media = _docs(spark, synth_dir), _media(spark, synth_dir)
    tiled = tile_assignment(docs, media, res=6)  # coarse -> hot cells
    a = {(r.cell, r.parent_cell): r.n_docs for r in tile_rollup(tiled).collect()}
    b = {(r.cell, r.parent_cell): r.n_docs
         for r in tile_rollup_salted(tiled, n_salts=4).collect()}
    assert a == b
    plan = tile_rollup_salted(tiled)._jdf.queryExecution().executedPlan().toString()
    assert "salt" in plan  # the salted shuffle key is really in the plan


def test_checkpoint_invalidates_on_input_change(spark, tmp_path):
    """ADVICE r1: a committed snapshot must NOT be served after its inputs
    changed — the input fingerprint gates the resume."""
    import time as _time

    src = tmp_path / "src.parquet"
    spark.range(10).write.parquet(str(src))
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(str(src))

    ck = Checkpointer(spark, str(tmp_path), "fp")
    ck.stage("ids", build, inputs=[str(src)])
    assert len(calls) == 1

    # same inputs -> resume
    Checkpointer(spark, str(tmp_path), "fp").stage(
        "ids", build, inputs=[str(src)])
    assert len(calls) == 1

    # rewrite the input (force a different mtime) -> rebuild, flagged stale
    _time.sleep(1.1)
    spark.range(20).write.mode("overwrite").parquet(str(src))
    ck3 = Checkpointer(spark, str(tmp_path), "fp")
    out = ck3.stage("ids", build, inputs=[str(src)])
    assert len(calls) == 2
    assert out.count() == 20
    assert ck3.report()[0]["rebuilt_stale"] is True


def test_checkpoint_invalidates_on_code_change(spark, tmp_path):
    """ADVICE r4: a committed snapshot must NOT be served after the code
    that produced it changed — the code_token salts the fingerprint, so the
    .synth query stages stop surviving edits to their producing modules."""
    src = tmp_path / "src.parquet"
    spark.range(10).write.parquet(str(src))
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(str(src))

    ck = Checkpointer(spark, str(tmp_path), "ct")
    ck.stage("ids", build, inputs=[str(src)], code_token="v1")
    assert len(calls) == 1

    # same code -> resume; changed code token -> rebuild
    Checkpointer(spark, str(tmp_path), "ct").stage(
        "ids", build, inputs=[str(src)], code_token="v1")
    assert len(calls) == 1
    Checkpointer(spark, str(tmp_path), "ct").stage(
        "ids", build, inputs=[str(src)], code_token="v2")
    assert len(calls) == 2

    # source_token is a pure function of module source bytes
    from rlis2osm_spark.plans.checkpoint import source_token
    t1 = source_token("rlis2osm_spark.operators.streets")
    t2 = source_token("rlis2osm_spark.operators.streets")
    assert t1 == t2
    assert t1 != source_token("rlis2osm_spark.operators.trails")


def test_checkpoint_chained_stage_fingerprint(spark, tmp_path):
    """A downstream stage keyed on an upstream STAGE name rebuilds when the
    upstream snapshot changes (digest chain), resumes when it doesn't."""
    calls = []

    def up():
        return spark.range(5)

    ck = Checkpointer(spark, str(tmp_path), "chain")
    up_df = ck.stage("up", up)

    def down():
        calls.append(1)
        return up_df.select("id")

    ck.stage("down", down, inputs=["up"])
    assert len(calls) == 1
    ck2 = Checkpointer(spark, str(tmp_path), "chain")
    ck2.stage("up", up)
    ck2.stage("down", down, inputs=["up"])
    assert len(calls) == 1  # both resumed

    ck3 = Checkpointer(spark, str(tmp_path), "chain")
    up2 = ck3.stage("up", lambda: spark.range(7), force=True)

    def down2():
        calls.append(1)
        return up2.select("id")

    ck3.stage("down", down2, inputs=["up"])
    assert len(calls) == 2  # upstream digest changed -> downstream rebuilt


def test_checkpoint_partial_write_not_served(spark, tmp_path):
    """A data directory without a committed manifest (crash mid-write) must
    be rebuilt, never served."""
    import os

    calls = []

    def build():
        calls.append(1)
        return spark.range(9)

    ck = Checkpointer(spark, str(tmp_path), "crash")
    ck.stage("s", build)
    assert len(calls) == 1
    # simulate a crash: data present, manifest gone
    os.remove(tmp_path / "crash" / "s" / "_manifest.json")
    out = Checkpointer(spark, str(tmp_path), "crash").stage("s", build)
    assert len(calls) == 2 and out.count() == 9


def test_doc_probe_fold_detects_corruption(spark, synth_dir):
    """Negative control for the scaling probe's map-side fold verifier
    (VERDICT r3 #1): any post-exchange span corruption — content edit,
    order/offset swap, dropped span, duplicated span — must flip the
    per-document fold or count compare. Without this the doc-path bench's
    '0 mismatches' claim would be unfalsifiable."""
    from rlis2osm_spark.queries.scaling import _span_contrib
    from rlis2osm_spark.sources.documents import explode_spans

    docs = _docs(spark, synth_dir).limit(50)
    fold_in = docs.select(
        "doc_id",
        F.aggregate(
            F.col("spans"), F.lit(0).cast("long"),
            lambda acc, s: acc + _span_contrib(
                s["kind"], s["text"], s["media_ref"], s["offset"])
        ).alias("fold_in"),
        F.size("spans").alias("n_in"),
    )
    ex = explode_spans(docs)

    def mismatches(exploded):
        out = exploded.withColumn(
            "c", _span_contrib(F.col("kind"), F.col("text"),
                               F.col("media_ref"), F.col("offset"))
        ).groupBy("doc_id").agg(
            F.sum("c").alias("fold_out"), F.count("*").alias("n_out"))
        j = fold_in.join(out, "doc_id", "left")
        return j.filter(
            (F.col("fold_out") != F.col("fold_in"))
            | (F.col("n_out") != F.col("n_in"))
            | F.col("fold_out").isNull()).count()

    assert mismatches(ex) == 0  # clean exchange -> clean verdict

    target = (F.col("doc_id") == "streets:0") & (F.col("pos") == 0)
    # content corruption on one span of one doc
    assert mismatches(ex.withColumn(
        "text", F.when(target, F.concat(F.col("text"), F.lit("X")))
        .otherwise(F.col("text")))) == 1
    # order corruption: move one span's offset
    assert mismatches(ex.withColumn(
        "offset", F.when(target, F.col("offset") + 1000)
        .otherwise(F.col("offset")))) == 1
    # dropped span
    assert mismatches(ex.filter(~target)) == 1
    # duplicated span
    assert mismatches(ex.unionAll(ex.filter(target))) == 1
