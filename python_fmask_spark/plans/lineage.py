"""Per-stage lineage + metrics and checkpoint resume (north rule).

Every pipeline stage writes its output to a stage table (parquet here;
Iceberg in production — same write API) together with a row in the
``_lineage`` table:

  (run_id, stage, input_fingerprint, rows_out, n_partitions, wall_ms,
   written_at_ms, per-partition row counts)

Resume: a stage whose (stage, input_fingerprint) already has a SUCCESS
marker is read back instead of recomputed — the reference's
keepIntermediates temp-file pattern (fmask/fmask.py:206-216) made
restart-safe.

The per-partition counts double as skew evidence: the bench reports
max/median partition rows from here.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_DIR = "_lineage"


class StageRunner:
    def __init__(self, spark: SparkSession, workdir: str, run_id: str):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id
        os.makedirs(os.path.join(workdir, LINEAGE_DIR), exist_ok=True)

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.workdir, f"stage_{stage}")

    def _marker_path(self, stage: str) -> str:
        return os.path.join(self.workdir, f"stage_{stage}._fingerprint.json")

    def is_done(self, stage: str, input_fingerprint: str) -> bool:
        mp = self._marker_path(stage)
        if not os.path.exists(mp):
            return False
        with open(mp) as f:
            meta = json.load(f)
        return meta.get("input_fingerprint") == input_fingerprint

    def run(self, stage: str, input_fingerprint: str,
            build: "callable[[], DataFrame]") -> DataFrame:
        """Build-or-resume a stage; always returns the stage DataFrame
        (read back from the stage table, so downstream plans cut here —
        the materialization barrier that keeps codegen units small)."""
        path = self._stage_path(stage)
        if self.is_done(stage, input_fingerprint):
            return self.spark.read.parquet(path)

        t0 = time.perf_counter()
        df = build()
        df.write.mode("overwrite").parquet(path)
        wall_ms = int((time.perf_counter() - t0) * 1000)

        out = self.spark.read.parquet(path)
        pstats = (out.groupBy(F.spark_partition_id().alias("pid"))
                  .count().collect())
        counts = sorted(int(r["count"]) for r in pstats)
        rows_out = sum(counts)
        lineage_row = {
            "run_id": self.run_id,
            "stage": stage,
            "input_fingerprint": input_fingerprint,
            "rows_out": rows_out,
            "n_partitions": len(counts),
            "max_partition_rows": counts[-1] if counts else 0,
            "median_partition_rows":
                counts[len(counts) // 2] if counts else 0,
            "wall_ms": wall_ms,
            "written_at_ms": int(time.time() * 1000),
        }
        self.spark.createDataFrame([lineage_row]).write.mode("append") \
            .parquet(os.path.join(self.workdir, LINEAGE_DIR))
        with open(self._marker_path(stage), "w") as f:
            json.dump({"input_fingerprint": input_fingerprint,
                       **lineage_row}, f)
        return out

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.workdir, LINEAGE_DIR))

