"""Stage checkpointing and resume.

A store is a directory with one parquet table per stage and one JSON
manifest per stage. The commit protocol: write the data, then write the
manifest last, by an atomic rename. A stage is complete iff its manifest
exists, so a killed write never looks complete and a restart resumes from
the last committed stage. The manifest also records the stage's rows,
schema, files, bytes and wall time, so reading them back runs no job.
This is the store's one format.

Analog in the reference: matcher/matrix Java-serialization reuse
(mappingEngine/persistance/PersistanceUtility.java).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class CheckpointStore:
    """A directory of parquet stage tables, each committed by its JSON
    manifest (see the module docstring)."""

    # the one format, as an attribute: every manifest records it, and the
    # benchmark's stage tracer (perfbench/stagetrace.py) reads ``store.fmt``
    fmt = "parquet"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest protocol --------------------------------------------------

    def _data_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}.manifest.json")

    def is_complete(self, stage: str) -> bool:
        return os.path.exists(self._manifest_path(stage))

    def read(self, stage: str) -> DataFrame:
        """A committed stage. The read takes its schema from the manifest,
        so it runs no schema-inference job (parquet reads make every column
        nullable, as inference would)."""
        schema = T.StructType.fromJson(self.manifest(stage)["schema"])
        return self.spark.read.schema(schema).parquet(self._data_path(stage))

    def rows(self, stage: str) -> int:
        """Row count of a committed stage, from its manifest (no job)."""
        return self.manifest(stage)["rows"]

    def invalidate(self, stage: str) -> None:
        mp = self._manifest_path(stage)
        if os.path.exists(mp):
            os.remove(mp)
        dp = self._data_path(stage)
        if os.path.exists(dp):
            shutil.rmtree(dp)

    def stage(self, name: str, fn, inputs: list[str] | None = None,
              force: bool = False) -> DataFrame:
        """Run (or resume) one pipeline stage.

        If the stage's manifest exists, the computation is skipped and the
        snapshot is read back — this is the kill-and-restart resume path
        (FIXTURES.md §3.9). Manifest is written only after the data commit
        succeeds, so a killed write never looks complete.

        A commit is the write's own job(s) and nothing else: the row count
        is observed on the write, and the read-back takes the written
        frame's schema, so neither a re-count nor a schema inference
        runs."""
        if not force and self.is_complete(name):
            return self.read(name)
        # crash injection for the kill-and-restart resume test
        # (FIXTURES.md §3.9): fail BEFORE computing this stage, simulating a
        # job killed between stage k and k+1
        if os.environ.get("KG_FAIL_BEFORE_STAGE") == name:
            raise RuntimeError(f"injected crash before stage '{name}'")
        t0 = time.time()
        df = fn()
        path = self._data_path(name)
        obs = Observation(f"checkpoint_{name}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(path)
        parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
        manifest = {
            "stage": name,
            "format": self.fmt,
            "path": path,
            "rows": obs.get["rows"],
            "schema": df.schema.jsonValue(),
            "inputs": inputs or [],
            # stage metrics (north rule: checkpoints carry lineage + metrics)
            "wall_sec": round(time.time() - t0, 3),
            "n_files": len(parts),
            "bytes": sum(
                os.path.getsize(os.path.join(path, f)) for f in parts
            ),
        }
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(name))  # atomic commit
        return self.read(name)

    # -- store-level metadata (code/config fingerprint) ---------------------

    def write_meta(self, name: str, data: dict) -> None:
        """Small store-level JSON record (e.g. the pipeline's code/config
        fingerprint, written before any stage so later runs can refuse to
        reuse stages produced under different matcher semantics)."""
        tmp = os.path.join(self.root, f"{name}.meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.root, f"{name}.meta.json"))

    def read_meta(self, name: str) -> dict | None:
        path = os.path.join(self.root, f"{name}.meta.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as f:
            return json.load(f)
