"""Stage checkpointing with lineage + metrics: resumable pipelines.

North-rule requirement (BASELINE.json): "checkpoints per-partition
progress and lineage/metrics to Iceberg so any stage is resumable".
The reference has no I/O at all (in-memory dicts only, SURVEY.md §2.4);
this layer is new.

Storage backend selection (SURVEY.md §7.0): when an Iceberg catalog is
configured on the session (``spark.sql.catalog.<name>`` present and the
runtime jar on the classpath), stages are written as Iceberg tables —
snapshot isolation, schema evolution and time travel come for free. This
sandbox ships no Iceberg jar, so the default backend is a Parquet
directory per stage plus a ``_MANIFEST.json`` standing in for snapshot
metadata. The pipeline code is backend-agnostic: one ``StageStore`` API.

Resume semantics: a stage is *committed* iff its manifest exists, parses,
AND its ``config_hash`` matches the current run's. The manifest is
written atomically (:func:`write_atomic`), so a crash mid-write leaves
the previous manifest or none, never a torn one; a manifest that still
does not parse counts as absent and the stage is rebuilt.
``run_stage(name, build)`` skips the build entirely for committed stages
and returns a scan of the stored output — so a restarted driver replays
only uncommitted stages, and a config change invalidates downstream
stages automatically (the hash covers the stage config + all upstream
stage hashes = lineage).

Per-partition progress: the manifest records per-Spark-partition row
counts (``partitions``), captured with ``spark_partition_id()`` in the
same job that writes the data — at 10^12-turn scale this is the audit
trail for which partitions a resumed run must trust.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"


def write_atomic(path: str, text: str) -> None:
    """Write ``text`` to ``path`` so readers see the old file or the whole
    new one: write a temp file in the same directory, then ``os.replace``
    (atomic within one filesystem)."""
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _config_hash(payload) -> str:
    return hashlib.sha256(
        json.dumps(payload, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, or None (parquet fallback)."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:  # pragma: no cover - defensive
        return None
    for k, v in confs:
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3:
            if "iceberg" in v.lower():
                return k.rsplit(".", 1)[1]
    return None


@dataclass
class StageStore:
    """Checkpointed stage outputs under ``root`` for one ``run_id``.

    ``run_stage(name, build, config=...)`` is the resume primitive:

        store = StageStore(spark, "/data/ckpt", run_id="er-2026-08-16")
        conv = store.run_stage("conversations", lambda: rollup(t), config=cfg)

    Lineage: each stage's hash folds in the hashes of the stages that ran
    before it this session (``_lineage``), so resuming with a changed
    upstream config rebuilds everything downstream.
    """

    spark: SparkSession
    root: str
    run_id: str
    _lineage: list[str] = field(default_factory=list)
    _catalog: str | None = None

    def __post_init__(self) -> None:
        self._catalog = iceberg_catalog(self.spark)
        if not self._catalog:
            os.makedirs(os.path.join(self.root, self.run_id), exist_ok=True)

    # -- paths / tables ----------------------------------------------------

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, self.run_id, stage)

    def _table(self, stage: str) -> str:
        safe_run = self.run_id.replace("-", "_").replace(".", "_")
        return f"{self._catalog}.checkpoints.{safe_run}_{stage}"

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), MANIFEST)

    # -- manifest ----------------------------------------------------------

    def manifest(self, stage: str) -> dict | None:
        """The stage's manifest, or None if it is absent or unparseable."""
        path = self._manifest_path(stage)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            try:
                return json.load(f)
            except json.JSONDecodeError:
                return None

    def is_committed(self, stage: str, config_hash: str) -> bool:
        m = self.manifest(stage)
        return bool(m) and m.get("config_hash") == config_hash

    # -- write / read ------------------------------------------------------

    def write(self, stage: str, df: DataFrame, config_hash: str = "") -> DataFrame:
        """Materialize ``df`` as the stage output + manifest; returns a
        scan of the stored data (cuts lineage like a checkpoint)."""
        t0 = time.time()
        if self._catalog:
            df.writeTo(self._table(stage)).using("iceberg").createOrReplace()
            out = self.spark.table(self._table(stage))
            os.makedirs(self._dir(stage), exist_ok=True)
        else:
            data_dir = os.path.join(self._dir(stage), "data")
            df.write.mode("overwrite").parquet(data_dir)
            out = self.spark.read.parquet(data_dir)
        parts = (
            out.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        manifest = {
            "run_id": self.run_id,
            "stage": stage,
            "config_hash": config_hash,
            "backend": "iceberg" if self._catalog else "parquet",
            "row_count": int(sum(r["count"] for r in parts)),
            "partitions": {str(r["pid"]): int(r["count"]) for r in parts},
            "schema": out.schema.jsonValue(),
            "written_at_epoch_s": round(t0, 3),
            "write_seconds": round(time.time() - t0, 3),
        }
        write_atomic(
            self._manifest_path(stage),
            json.dumps(manifest, indent=1, sort_keys=True),
        )
        return out

    def read(self, stage: str) -> DataFrame:
        if self._catalog:
            return self.spark.table(self._table(stage))
        return self.spark.read.parquet(os.path.join(self._dir(stage), "data"))

    # -- the resume primitive ---------------------------------------------

    def run_stage(
        self,
        stage: str,
        build: Callable[[], DataFrame],
        config=None,
    ) -> DataFrame:
        """Return the stage output, building it only if not committed.

        The effective hash = hash(config) + all prior stage hashes, so a
        stage is only considered committed when its whole upstream lineage
        is unchanged.
        """
        h = _config_hash({"config": config, "lineage": self._lineage})
        self._lineage.append(f"{stage}:{h}")
        if self.is_committed(stage, h):
            return self.read(stage)
        return self.write(stage, build(), config_hash=h)

    # -- metrics -----------------------------------------------------------

    def log_metrics(self, stage: str, metrics: dict) -> None:
        """Append one metrics record (JSONL next to the stage data)."""
        os.makedirs(self._dir(stage), exist_ok=True)
        path = os.path.join(self._dir(stage), "metrics.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps({"stage": stage, **metrics}, sort_keys=True) + "\n")

    def metrics(self, stage: str) -> list[dict]:
        path = os.path.join(self._dir(stage), "metrics.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]
