"""Checkpoint / lineage / resume layer.

The north rule requires every stage to checkpoint with per-partition
lineage and metrics so runs resume mid-pipeline (reference analogue:
skip-if-exists memoization, /root/reference/logdag/makedag.py:24-28,
cache layer /root/reference/logdag/arguments.py:220-261).

Backend: Iceberg when the caller names a configured Iceberg Spark SQL
catalog (``Catalog(..., iceberg_catalog="prod")``) and its runtime jars
are on the classpath — snapshot-isolated commits, atomic
``overwritePartitions`` chunk replays, per-partition metrics from the
``.partitions`` metadata table.  Otherwise partitioned Parquet with
Spark's dynamic partition-overwrite, which has the same
idempotent-resume semantics for this pipeline's
append/replace-partition writes.  Requesting Iceberg without the
runtime raises instead of silently falling back.

Lineage: one JSON-lines record per stage write — (stage, rows, wall_ms,
n_partitions, input rows) — appended to ``<warehouse>/_lineage`` as a
Spark-readable table so metrics queries are themselves DataFrames.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class Catalog:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        codec: str = "zstd",
        iceberg_catalog: str | None = None,
    ):
        """``codec`` picks the checkpoint parquet compression.  Default
        zstd: ~25% smaller files, which is what matters when checkpoints
        live on an object store (I/O bandwidth and storage are the 100 TB
        constraints).  On local NVMe where the write is CPU-bound, lz4
        measures ~14% faster on the big events_ts checkpoint (18.1 s vs
        21.2 s at scale 2000 / 8 cores) with faster decompression on the
        re-read — the bench harness opts into it.

        ``iceberg_catalog`` names a configured Iceberg Spark SQL catalog
        (cluster setup: ``spark.sql.catalog.<name> =
        org.apache.iceberg.spark.SparkCatalog`` + warehouse confs); when
        given AND the Iceberg runtime is on the classpath, checkpoints
        become Iceberg tables ``<name>.logdag.<table>`` — atomic
        snapshot commits, ``overwritePartitions`` for idempotent chunk
        replays, per-partition metrics from the ``.partitions`` metadata
        table.  Without it (this container ships no Iceberg jars) the
        partitioned-parquet path below provides the same resume
        semantics via dynamic partition overwrite + a completion
        manifest; the choice is per-Catalog and every caller is
        backend-agnostic.

        Deployments that want data-page-v2 parquet (DELTA_BINARY_PACKED
        int64/timestamp pages) set
        ``spark.hadoop.parquet.writer.version=v2`` in the session conf."""
        self.spark = spark
        self.warehouse = warehouse
        self.codec = codec
        os.makedirs(warehouse, exist_ok=True)
        self.use_iceberg = iceberg_catalog is not None and _iceberg_available(spark)
        if iceberg_catalog is not None and not self.use_iceberg:
            raise RuntimeError(
                f"iceberg_catalog={iceberg_catalog!r} requested but the "
                "Iceberg runtime is not on the classpath — add the "
                "iceberg-spark-runtime jar or drop the argument for the "
                "parquet checkpoint backend"
            )
        self.iceberg_catalog = iceberg_catalog
        if self.use_iceberg:
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {iceberg_catalog}.logdag")
        self._lineage_dir = os.path.join(warehouse, "_lineage")
        # observed row counts of this session's writes (table -> rows):
        # lets callers report stage row counts without re-scanning the
        # checkpoint (a count() on a just-written table is a pure-serial
        # extra job)
        self.rows_written: dict[str, int] = {}

    # ------------------------------------------------------------- paths

    def path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _ident(self, table: str) -> str:
        return f"{self.iceberg_catalog}.logdag.{table}"

    def exists(self, table: str) -> bool:
        """A table exists only when its write COMMITTED: Spark's
        ``_SUCCESS`` marker, or this catalog's own completion manifest
        (dynamic partition overwrite doesn't place ``_SUCCESS`` at the
        table root).  Partial part-files from a crashed or interrupted
        write must not be resumable — read_or_run rewrites them instead
        of silently producing incomplete downstream results.  (Iceberg
        commits are atomic, so there table existence IS commit.)"""
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._ident(table))
        p = self.path(table)
        return os.path.isdir(p) and (
            os.path.exists(os.path.join(p, "_SUCCESS"))
            or os.path.exists(os.path.join(p, "_LOGDAG_COMMITTED"))
        )

    def drop(self, table: str) -> bool:
        """Remove a checkpointed stage so the next run recomputes it
        (the reference's ``drop-features`` analogue,
        /root/reference/logdag/source/__main__.py:202-205: derived
        feature data is disposable, original data is not — which stages
        count as derived is the CALLER's decision).  Returns whether
        anything existed.  Parquet backend removes the table directory
        (manifest included, so a half-deleted dir can never look
        committed); Iceberg drops the table through the catalog."""
        if self.use_iceberg:
            if not self.spark.catalog.tableExists(self._ident(table)):
                return False
            self.spark.sql(f"DROP TABLE {self._ident(table)}")
            return True
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        import shutil

        shutil.rmtree(p)
        return True

    # ------------------------------------------------------------ writes

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
        stage: str | None = None,
    ) -> DataFrame:
        """Write a stage checkpoint and append a lineage record.

        ``mode='overwrite'`` with partition columns only replaces touched
        partitions (dynamic partition overwrite — the parquet analogue of
        Iceberg ``overwritePartitions``), so re-running a chunk is
        idempotent.
        Returns the re-read DataFrame (downstream stages read the
        checkpoint, cutting lineage for fault isolation).
        """
        t0 = time.monotonic()
        # lineage row count rides the write job itself (df.observe):
        # counting the table after the fact would re-scan every freshly
        # written file — one full extra Spark job per checkpoint, pure
        # serial overhead at high parallelism
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if self.use_iceberg:
            ident = self._ident(table)
            w = df.writeTo(ident)
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            if mode == "overwrite" and partition_by and self.exists(table):
                # the Iceberg analogue of dynamic partition overwrite:
                # replace only the partitions this write touches, atomically
                w.overwritePartitions()
            elif mode == "append" and self.exists(table):
                w.append()
            else:
                w.using("iceberg").createOrReplace()
            out = self.spark.table(ident)
        else:
            writer = df.write.mode(mode).option("compression", self.codec)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(self.path(table))
            # completion manifest: written only after the Spark commit
            # returned, so exists() never resumes from a partial write
            with open(
                os.path.join(self.path(table), "_LOGDAG_COMMITTED"), "w"
            ) as f:
                f.write(json.dumps({"ts_unix": time.time(), "mode": mode}))
            # re-read with the writer's schema: schema inference on a
            # freshly written table is a parquet-footer job (serial
            # overhead per checkpoint); partition columns resolve by name
            # from the directory layout exactly as under inference
            out = self.spark.read.schema(df.schema).parquet(self.path(table))
        n_rows = int(obs.get["rows"])
        wall_ms = int((time.monotonic() - t0) * 1000)
        self.rows_written[table] = n_rows
        self._record(stage or table, table, n_rows, wall_ms)
        return out

    def read(self, table: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.table(self._ident(table))
        return self.spark.read.parquet(self.path(table))

    def read_or_run(self, table: str, fn, **write_kwargs) -> DataFrame:
        """Resume-from-checkpoint: skip the stage if its table exists
        (reference skip-if-exists, makedag.py:24-28)."""
        if self.exists(table):
            return self.read(table)
        return self.write(fn(), table, **write_kwargs)

    # ----------------------------------------------------------- lineage

    def _partition_census(self, table: str) -> list[dict]:
        """Per-partition lineage from the filesystem + parquet footers —
        zero Spark jobs (a per-partition count() would be one serial job
        per checkpoint).  Footer reads are ~1 ms per file driver-side;
        row counts degrade to null if a footer is unreadable rather than
        failing the write path.  On the Iceberg backend the census comes
        from the table's ``.partitions`` metadata table instead (a
        metadata-only scan, no data files touched)."""
        if self.use_iceberg:
            try:
                return [
                    {
                        "partition": str(r["partition"])
                        if "partition" in r.__fields__ else "",
                        "files": int(r["file_count"]),
                        "bytes": int(r["total_data_file_size_in_bytes"])
                        if "total_data_file_size_in_bytes" in r.__fields__
                        else 0,
                        "rows": int(r["record_count"]),
                    }
                    for r in self.spark.table(
                        f"{self._ident(table)}.partitions"
                    ).collect()
                ]
            except Exception:
                return []
        root = self.path(table)
        bydir: dict[str, list[str]] = {}
        for dirpath, _subs, files in os.walk(root):
            parts = sorted(f for f in files if f.startswith("part-"))
            if parts:
                bydir[dirpath] = parts

        def file_rows(path: str) -> int | None:
            try:
                import pyarrow.parquet as pq

                return pq.ParquetFile(path).metadata.num_rows
            except Exception:
                return None

        # footer reads are independent I/O — a thread pool turns ~1 ms x
        # n_files of pure-serial driver time (it sits between the stage
        # write and the next stage's planning, i.e. directly on the
        # Amdahl floor the scaling rule measures) into ~parallel I/O
        from concurrent.futures import ThreadPoolExecutor

        paths = [os.path.join(d, f) for d, fs in bydir.items() for f in fs]
        with ThreadPoolExecutor(max_workers=16) as pool:
            rows_by_path = dict(zip(paths, pool.map(file_rows, paths)))

        out = []
        for dirpath, parts in bydir.items():
            rel = os.path.relpath(dirpath, root)
            counts = [rows_by_path[os.path.join(dirpath, f)] for f in parts]
            out.append({
                "partition": "" if rel == "." else rel,
                "files": len(parts),
                "bytes": sum(
                    os.path.getsize(os.path.join(dirpath, f)) for f in parts
                ),
                "rows": None if any(c is None for c in counts) else sum(counts),
            })
        return sorted(out, key=lambda d: d["partition"])

    def _record(self, stage: str, table: str, rows: int, wall_ms: int) -> None:
        os.makedirs(self._lineage_dir, exist_ok=True)
        partitions = self._partition_census(table)
        rec = {
            "run_id": os.environ.get("SPARK_GRAFT_RUN_ID", "local"),
            "stage": stage,
            "table": table,
            "rows": rows,
            "wall_ms": wall_ms,
            "n_partitions": sum(p["files"] for p in partitions),
            "partitions": partitions,
            "ts_unix": time.time(),
        }
        fname = os.path.join(self._lineage_dir, f"{uuid.uuid4().hex}.json")
        with open(fname, "w") as f:
            f.write(json.dumps(rec) + "\n")

    def lineage(self) -> DataFrame:
        return self.spark.read.json(self._lineage_dir)

    def partition_metrics(self) -> DataFrame:
        """Per-partition lineage rows: (stage, table, partition, files,
        bytes, rows) — the north-rule "per-partition lineage and
        metrics" surface, queryable like any table.  Lineage written
        before this field existed simply contributes no rows (inferred
        schema has no ``partitions`` column — explode would fail to
        resolve, not return empty)."""
        lin = self.lineage()
        if "partitions" not in lin.columns:
            return self.spark.createDataFrame(
                [],
                "stage string, table string, partition string, "
                "files long, bytes long, rows long",
            )
        return lin.select(
            "stage", "table", F.explode("partitions").alias("p")
        ).select(
            "stage", "table", F.col("p.partition").alias("partition"),
            F.col("p.files").alias("files"), F.col("p.bytes").alias("bytes"),
            F.col("p.rows").alias("rows"),
        )

    def stage_metrics(self) -> DataFrame:
        return (
            self.lineage()
            .groupBy("stage")
            .agg(
                F.sum("rows").alias("rows"),
                F.sum("wall_ms").alias("wall_ms"),
                F.count("*").alias("writes"),
            )
            .orderBy("stage")
        )
