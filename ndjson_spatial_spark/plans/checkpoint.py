"""Stage-level manifest checkpointing: every pipeline stage writes parquet +
a manifest (row count, schema, inputs fingerprint); a rerun skips stages
whose manifest is already present and valid (north rule: "resumable from
checkpoint").

This is deliberately NOT Structured Streaming state (the reference has no
streaming semantics, SURVEY §2.7) — it's the batch-pipeline resume model:
at 10^12 docs a multi-stage job dies occasionally; rerunning must not redo
finished stages.  The manifest carries per-stage row counts, the lineage
anchor a rerun or a monitor reads without scanning the data.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

__all__ = ["StagedPipeline"]

MANIFEST = "_MANIFEST.json"


@dataclass
class StagedPipeline:
    """Checkpointed multi-stage pipeline rooted at `base_dir`.

    Usage:
        pipe = StagedPipeline(spark, "/data/run1")
        geoms = pipe.stage("extract", lambda: extract_geometry_spans(docs))
        joined = pipe.stage("join", lambda: spatial_join(geoms, refs))
    A rerun with the same base_dir reloads completed stages from parquet
    instead of recomputing them.
    """

    spark: SparkSession
    base_dir: str
    completed: dict = field(default_factory=dict)

    def _paths(self, name: str):
        d = os.path.join(self.base_dir, name)
        return d, os.path.join(d, MANIFEST)

    def is_complete(self, name: str) -> bool:
        _, m = self._paths(name)
        if not os.path.exists(m):
            return False
        try:
            with open(m) as f:
                return json.load(f).get("status") == "complete"
        except (json.JSONDecodeError, OSError):
            return False

    def manifest(self, name: str) -> dict | None:
        _, m = self._paths(name)
        if not os.path.exists(m):
            return None
        with open(m) as f:
            return json.load(f)

    def _fingerprint(self, params) -> str:
        """Inputs fingerprint: hash of the (rows, schema) of every upstream
        stage manifest this run has passed through, plus the caller's
        `params` token.  A rerun whose upstream outputs or parameters
        changed therefore invalidates the stage instead of silently
        reusing stale parquet."""
        upstream = {}
        for n in self.completed:
            man = self.manifest(n)
            if man:
                upstream[n] = {"rows": man.get("rows"), "schema": man.get("schema")}
        blob = json.dumps({"upstream": upstream, "params": params},
                          sort_keys=True, default=str)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    def stage(self, name: str, build, partitions: int | None = None,
              params=None) -> DataFrame:
        """Run (or resume) one stage.  `build` is a () -> DataFrame thunk;
        `params` is a JSON-able token of the stage's parameters, folded
        into the inputs fingerprint.

        The stage result is written to parquet FIRST, the manifest written
        only after a successful write — a crash mid-write leaves no
        manifest, so the rerun redoes the stage (write-ahead ordering).
        A complete manifest whose fingerprint no longer matches (changed
        upstream outputs or parameters) is recomputed, not resumed.
        """
        d, m = self._paths(name)
        fp = self._fingerprint(params)
        if self.is_complete(name):
            man = self.manifest(name) or {}
            if man.get("fingerprint") == fp:
                self.completed[name] = "resumed"
                return self.spark.read.parquet(os.path.join(d, "data"))
            self.completed.pop(name, None)  # stale: fall through and redo
        t0 = time.time()
        df = build()
        if partitions:
            df = df.repartition(partitions)
        data_dir = os.path.join(d, "data")
        df.write.mode("overwrite").parquet(data_dir)
        out = self.spark.read.parquet(data_dir)
        n = out.count()
        os.makedirs(d, exist_ok=True)
        with open(m, "w") as f:
            json.dump(
                {
                    "status": "complete",
                    "stage": name,
                    "fingerprint": fp,
                    "rows": n,
                    "schema": out.schema.simpleString(),
                    "elapsed_sec": round(time.time() - t0, 3),
                    "num_files": len(
                        [p for p in os.listdir(data_dir) if p.endswith(".parquet")]
                    ),
                },
                f,
            )
        self.completed[name] = "computed"
        return out
