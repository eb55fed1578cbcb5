"""Stage checkpointing + resume (north rule: "every stage checkpoints to
Iceberg snapshots so the job resumes mid-pipeline").

Locally we have no Iceberg catalog jar, so the snapshot store is a directory
of parquet tables with atomic JSON manifests — the same commit protocol
(write data → write manifest last; a stage is complete iff its manifest
exists). On a real cluster, ``fmt='iceberg'`` writes through
``df.writeTo(table).createOrReplace()`` instead; the resume logic is
identical because Iceberg snapshots are the manifests.

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
    """``fmt='parquet'`` (default): directory-of-parquet + JSON manifest
    store — what this sandbox runs. ``fmt='iceberg'``: stages commit as
    Iceberg tables ``<root>.<stage>`` (``root`` is then a catalog.namespace
    string, e.g. ``lake.kg``); the Iceberg snapshot IS the manifest, and
    resume reads the table back. Requires the iceberg-spark-runtime jar +
    catalog conf on the cluster (not present locally — constructor verifies
    and fails fast with a clear message)."""

    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet"):
        self.spark = spark
        self.root = root
        self.fmt = fmt
        if fmt == "iceberg":
            catalog = root.split(".", 1)[0]
            impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
            if not impl:
                raise RuntimeError(
                    f"fmt='iceberg' needs spark.sql.catalog.{catalog} "
                    "configured (iceberg-spark-runtime jar + catalog conf); "
                    "use fmt='parquet' locally"
                )
        elif fmt == "parquet":
            os.makedirs(root, exist_ok=True)
        else:
            raise ValueError(f"unknown checkpoint format: {fmt!r}")

    # -- manifest protocol --------------------------------------------------

    def _data_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}.manifest.json")

    def _table(self, stage: str) -> str:
        return f"{self.root}.{stage}"

    def is_complete(self, stage: str) -> bool:
        if self.fmt == "iceberg":
            return self.spark.catalog.tableExists(self._table(stage))
        return os.path.exists(self._manifest_path(stage))

    def read(self, stage: str) -> DataFrame:
        """A committed stage. The parquet read takes its schema from the
        manifest, so it runs no schema-inference job (parquet reads make
        every column nullable, as inference would)."""
        if self.fmt == "iceberg":
            return self.spark.read.table(self._table(stage))
        schema = T.StructType.fromJson(self.manifest(stage)["schema"])
        return self.spark.read.schema(schema).parquet(self._data_path(stage))

    def rows(self, stage: str) -> int:
        """Row count of a committed stage, from its manifest (no job)."""
        if self.fmt == "iceberg":
            return self.read(stage).count()
        return self.manifest(stage)["rows"]

    def invalidate(self, stage: str) -> None:
        if self.fmt == "iceberg":
            self.spark.sql(f"DROP TABLE IF EXISTS {self._table(stage)}")
            return
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

        A parquet commit is the write's own job(s) and nothing else: the
        row count is observed on the write, and the read-back takes the
        written frame's schema, so neither a re-count nor a schema
        inference runs."""
        if not force and self.is_complete(name):
            return self.read(name)
        # crash injection for the kill-and-restart resume test
        # (FIXTURES.md §3.9): fail BEFORE computing this stage, simulating a
        # job killed between stage k and k+1
        if os.environ.get("KG_FAIL_BEFORE_STAGE") == name:
            raise RuntimeError(f"injected crash before stage '{name}'")
        t0 = time.time()
        df = fn()
        if self.fmt == "iceberg":
            # a createOrReplace is ONE atomic Iceberg snapshot commit: a
            # killed write leaves the previous snapshot (or no table) —
            # same manifest-last protocol, enforced by the table format
            df.writeTo(self._table(name)).using("iceberg").createOrReplace()
            return self.read(name)
        path = self._data_path(name)
        obs = Observation(f"checkpoint_{name}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(path)
        manifest = {
            "stage": name,
            "format": self.fmt,
            "path": path,
            "rows": obs.get["rows"],
            "schema": df.schema.jsonValue(),
            "inputs": inputs or [],
            # stage metrics (north rule: checkpoints carry lineage + metrics)
            "wall_sec": round(time.time() - t0, 3),
            "n_files": len(
                [f for f in os.listdir(path) if f.endswith(".parquet")]
            ),
            "bytes": sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
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
        if self.fmt == "iceberg":
            df = self.spark.createDataFrame(
                [(name, json.dumps(data, sort_keys=True))],
                "name string, json string",
            )
            df.writeTo(self._table(f"_meta_{name}")).using(
                "iceberg"
            ).createOrReplace()
            return
        tmp = os.path.join(self.root, f"{name}.meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.root, f"{name}.meta.json"))

    def read_meta(self, name: str) -> dict | None:
        if self.fmt == "iceberg":
            t = self._table(f"_meta_{name}")
            if not self.spark.catalog.tableExists(t):
                return None
            rows = self.spark.read.table(t).collect()
            return json.loads(rows[0].json) if rows else None
        path = os.path.join(self.root, f"{name}.meta.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def manifest(self, stage: str) -> dict:
        if self.fmt == "iceberg":
            # the Iceberg snapshot log IS the manifest
            snaps = self.spark.sql(
                f"SELECT snapshot_id, committed_at FROM "
                f"{self._table(stage)}.snapshots ORDER BY committed_at DESC"
            ).limit(1).collect()
            return {
                "stage": stage,
                "format": "iceberg",
                "table": self._table(stage),
                "snapshot_id": snaps[0].snapshot_id if snaps else None,
            }
        with open(self._manifest_path(stage)) as f:
            return json.load(f)
