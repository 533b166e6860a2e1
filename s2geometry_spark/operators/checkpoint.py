"""Checkpoint-resumable runs with per-partition lineage + metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics".  The reference has no such machinery (in-memory
library); this is the Spark-native design from SURVEY.md §4.3:

* the job is split into deterministic WORK UNITS (hash buckets of a key,
  or cell-prefix shards from the density tree);
* each unit's output lands under ``<out>/data/bucket=<k>/`` (the layout
  an Iceberg partitioned table would give; plain parquet here because the
  Iceberg runtime jar is not in the sandbox — the commit protocol below
  is exactly an Iceberg MERGE/append per partition);
* a ``_partitions`` manifest records per-unit lineage: bucket id, row
  count, wall seconds, rows/sec, attempt, status — appended ATOMICALLY
  after the unit's data is fully written (write-then-manifest ordering
  makes the resume idempotent: a crash between the two re-runs the unit);
* resume = anti-join pending units against the manifest.

Driving a run at two parallelism levels over the same units is also how
the scaling-efficiency evidence is produced (bench.py --scaling).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_partitions.jsonl"
RUNS = "_runs.jsonl"


def parquet_rows(path: str) -> int:
    """Rows of the parquet files Spark just wrote under ``path``, summed
    from their footers (no Spark job; the manifest is local too)."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
        for name in sorted(os.listdir(path))
        if name.endswith(".parquet")
    )


class CheckpointedRun:
    def __init__(self, out_dir: str, n_buckets: int = 16, run_id: str = "run0"):
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.run_id = run_id
        os.makedirs(os.path.join(out_dir, "data"), exist_ok=True)

    # ---- manifest (lineage) ----

    def _manifest_path(self) -> str:
        return os.path.join(self.out_dir, MANIFEST)

    def completed_buckets(self) -> set[int]:
        done = set()
        path = self._manifest_path()
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec.get("status") == "done":
                        done.add(rec["bucket"])
        return done

    def pending_buckets(self) -> list[int]:
        done = self.completed_buckets()
        return [b for b in range(self.n_buckets) if b not in done]

    def _append_manifest(self, rec: dict) -> None:
        # single-writer driver append; O_APPEND is atomic for one line
        with open(self._manifest_path(), "a") as f:
            f.write(json.dumps(rec) + "\n")

    def lineage(self) -> list[dict]:
        path = self._manifest_path()
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f]

    # ---- execution ----

    def bucket_filter(self, df: DataFrame, key_col: str, bucket: int) -> DataFrame:
        """Deterministic unit membership: xxhash64 bucket of the key.

        Pushed into the scan as a filter; on a bucketed/partitioned table
        this prunes files instead of scanning + filtering.
        """
        return df.where(
            F.pmod(F.xxhash64(F.col(key_col)), F.lit(self.n_buckets)) == bucket
        )

    def run(
        self,
        spark: SparkSession,
        make_unit: Callable[[SparkSession, int], DataFrame],
        max_buckets: int | None = None,
    ) -> list[dict]:
        """Process pending units; returns the lineage rows written.

        ``make_unit(spark, bucket)`` returns the unit's result DataFrame.
        ``max_buckets`` limits this invocation (used to simulate a crash
        in tests and to spread a giant backlog over multiple driver runs).
        """
        written = []
        t_run = time.time()
        # real attempt lineage: prior manifest rows for a bucket are earlier
        # tries; an orphaned data dir with NO manifest row is a crash between
        # data write and manifest append (also an earlier try).
        prior_attempts: dict[int, int] = {}
        for rec in self.lineage():
            prior_attempts[rec["bucket"]] = prior_attempts.get(rec["bucket"], 0) + 1
        pending = self.pending_buckets()
        if max_buckets is not None:
            pending = pending[:max_buckets]
        for b in pending:
            t0 = time.time()
            out = os.path.join(self.out_dir, "data", f"bucket={b}")
            attempt = prior_attempts.get(b, 0) + 1
            if b not in prior_attempts and os.path.exists(out):
                attempt += 1  # orphaned partial write from a crashed attempt
            df = make_unit(spark, b)
            df.write.mode("overwrite").parquet(out)  # idempotent re-attempt
            rows = parquet_rows(out)
            wall = time.time() - t0
            rec = {
                "run_id": self.run_id,
                "bucket": b,
                "rows": rows,
                "wall_s": round(wall, 3),
                "rows_per_sec": round(rows / wall, 1) if wall > 0 else 0.0,
                "attempt": attempt,
                "status": "done",
            }
            self._append_manifest(rec)
            written.append(rec)
        with open(os.path.join(self.out_dir, RUNS), "a") as f:
            f.write(
                json.dumps(
                    {
                        "run_id": self.run_id,
                        "buckets_done": len(written),
                        "wall_s": round(time.time() - t_run, 3),
                        "parallelism": spark.sparkContext.defaultParallelism,
                    }
                )
                + "\n"
            )
        return written

    def result(self, spark: SparkSession) -> DataFrame:
        """Union of all completed units (partition-pruned parquet read)."""
        return spark.read.parquet(os.path.join(self.out_dir, "data"))
