"""Snapshot / lineage / metrics checkpointing with anti-join resume.

Reproduces the reference's resumability semantics — spill slice intermediates
to (geo)parquet, skip already-stored slots on re-run, restore and concatenate
(stacbuilder/terracatalog.py:339-396, 493-551) — as Iceberg-style tables on
plain parquet (no Iceberg jars in this environment; the layout mirrors
snapshot manifests + per-partition lineage the north rule requires):

    <root>/<stage>/data/part_key=<v>/...parquet      partitioned stage output
    <root>/<stage>/_lineage/...parquet               one row per completed partition
    <root>/<stage>/_metrics/...parquet               per-partition row counts etc.
    <root>/<stage>/_snapshots.json                   append-only snapshot log

Resume = left_anti join of the pending work's partition keys against
``_lineage`` (the reference's "skip if stored" check, terracatalog.py:366-375),
so a re-run only computes missing partitions.

Exactly-once per partition:
- the data write uses **dynamic partition overwrite** (the writer option
  ``partitionOverwriteMode=dynamic`` + ``mode("overwrite")``; the session
  conf is never touched) so a crash-retry *replaces* a partially-committed
  partition instead of appending duplicate rows;
- ``_metrics`` and ``_lineage`` are themselves partitioned by ``part_key``
  and written with dynamic overwrite, so every step of the commit protocol is
  an idempotent per-partition upsert — any crash/retry interleaving converges
  to exactly one copy of data, metrics, and lineage per partition;
- the lineage row is written last (commit marker).

Cost discipline at 100 TB: metrics/lineage derive from a *file-level
read-back* of the partitions just written (partition-column-only scan =
parquet footer metadata), never by re-running the upstream stage DAG — a
naive ``df.count()``-style metrics pass would double the cost of every
checkpointed write.

Partition keys round-trip as **strings** (their Hive directory form): the
store reads its own tables with a known schema that types the partition
column as string, so keys are stable and engine-independent without
disabling partition-column type inference.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

_INFER_KEY = "spark.sql.sources.partitionColumnTypeInference.enabled"


def _dynamic_overwrite(
    df: DataFrame, path: Path, part_col: str, cluster: bool = True
) -> None:
    """Partition-scoped idempotent upsert: overwrite ONLY the partitions
    present in ``df``, leave all others untouched.

    ``cluster`` repartitions by the partition column first (guide §6): one
    parallel writer per directory instead of N input tasks each appending a
    file to every directory (N*P small files at scale; fully serial when
    the input is a single-row-group scan). Skipped for the dimension-sized
    metrics/lineage upserts, where a shuffle is pure overhead.

    The mode is a writer option, not session conf: a query planned
    concurrently on the same session keeps the session's own mode."""
    if cluster:
        df = df.repartition(F.col(part_col))
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(str(path))
    )


def _read_keyed(
    spark: SparkSession, path: Path, schema: T.StructType | None = None
) -> DataFrame:
    """Read a part_key-partitioned table so the partition key always comes
    back as the string written in the dir name.

    ``schema``: the known readback schema (data columns in file order, the
    partition column LAST as string — what inference-off reads produce).
    The store wrote every table it reads back, so the schema is available
    without Spark's 1-task footer-inference job per read, and a
    user-specified partition column type is taken as given (no value
    inference), so the session conf is left alone. Callers that cannot
    know it (``read_stage``) pass None and pay inference, with
    partition-column type inference switched off around the read.
    tests/test_checkpoint.py pins known-schema == inferred-schema reads."""
    if schema is not None:
        return spark.read.schema(schema).parquet(str(path))
    prev = spark.conf.get(_INFER_KEY, "true")
    spark.conf.set(_INFER_KEY, "false")
    try:
        return spark.read.parquet(str(path))
    finally:
        spark.conf.set(_INFER_KEY, prev)


def _readback_schema(written: T.StructType, part_col: str) -> T.StructType:
    """Schema a partitioned write reads back as: the written columns minus
    the partition column (those live in file bodies, original order), then
    the partition column appended as a nullable string (inference-off
    directory-name identity). All fields nullable, matching parquet scan
    inference."""
    fields = [
        T.StructField(f.name, f.dataType, True)
        for f in written.fields
        if f.name != part_col
    ]
    fields.append(T.StructField(part_col, T.StringType(), True))
    return T.StructType(fields)


# lineage rows are written as (part_key, stage) partitioned by part_key;
# metrics rows as (part_key, n_rows, stage) partitioned by part_key
_LINEAGE_READBACK = T.StructType(
    [
        T.StructField("stage", T.StringType(), True),
        T.StructField("part_key", T.StringType(), True),
    ]
)
_METRICS_READBACK = T.StructType(
    [
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("stage", T.StringType(), True),
        T.StructField("part_key", T.StringType(), True),
    ]
)


def _has_parquet(p: Path) -> bool:
    return any(p.glob("*.parquet")) or any(p.glob("**/*.parquet"))


class SnapshotStore:
    """Checkpointed, partition-resumable stage writer."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- paths --------------------------------------------------------------
    def _stage(self, stage: str) -> Path:
        return self.root / stage

    def _data_path(self, stage: str) -> Path:
        return self._stage(stage) / "data"

    def _lineage_path(self, stage: str) -> Path:
        return self._stage(stage) / "_lineage"

    def _metrics_path(self, stage: str) -> Path:
        return self._stage(stage) / "_metrics"

    def _snapshots_path(self, stage: str) -> Path:
        return self._stage(stage) / "_snapshots.json"

    # -- lineage ------------------------------------------------------------
    def completed_partitions(self, spark: SparkSession, stage: str) -> DataFrame | None:
        p = self._lineage_path(stage)
        if not _has_parquet(p):
            return None
        return _read_keyed(spark, p, _LINEAGE_READBACK)

    def _committed_keys(self, spark: SparkSession, stage: str) -> set[str]:
        done = self.completed_partitions(spark, stage)
        if done is None:
            return set()
        return {r.part_key for r in done.select("part_key").distinct().collect()}

    def pending(self, work: DataFrame, spark: SparkSession, stage: str, key: str) -> DataFrame:
        """Anti-join the work set against completed lineage (J7). Keys are
        compared in string form (their partition-directory identity)."""
        done = self.completed_partitions(spark, stage)
        if done is None:
            return work
        done_keys = done.select(
            F.col("part_key").cast("string").alias("__done_key")
        ).distinct()
        return work.join(
            done_keys, work[key].cast("string") == F.col("__done_key"), "left_anti"
        )

    # -- write --------------------------------------------------------------
    def write_stage(
        self, df: DataFrame, stage: str, part_col: str, snapshot_note: str = ""
    ) -> dict:
        """Write a stage partitioned by ``part_col`` with exactly-once
        per-partition semantics (see module docstring for the protocol)."""
        spark = df.sparkSession
        already = self._committed_keys(spark, stage)

        # 1. data: dynamic partition overwrite (idempotent on crash-retry)
        _dynamic_overwrite(df, self._data_path(stage), part_col)

        # 2+3. partitions just landed = read-back keys minus committed
        #    lineage, with per-partition counts — ONE partition-column-only
        #    scan (parquet metadata; never a recomputation of df's DAG).
        #    Keys come from the read-back COLUMN VALUES, not directory names:
        #    Hive escapes special characters (space, ':', '/', '%', '=') in
        #    paths, so a directory listing would never match lineage's raw
        #    values and such partitions would recommit forever.
        readback = _read_keyed(
            spark, self._data_path(stage), _readback_schema(df.schema, part_col)
        )
        counts = {
            r.part_key: r.n_rows
            for r in readback.groupBy(F.col(part_col).alias("part_key"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .collect()
        }
        # A committed partition can be INTENTIONALLY rewritten (a call outside
        # the pending() flow); its metrics must not go stale. Refresh every
        # committed key whose current count disagrees with stored metrics, in
        # addition to the new keys. (Count equality is the cheap staleness
        # signal available from the footer-only scan; a rewrite that keeps
        # the exact row count refreshes nothing — callers needing content
        # versioning should write a new stage.)
        stored: dict[str, int] = {}
        if _has_parquet(self._metrics_path(stage)):
            stored = {
                r.part_key: r.n_rows
                for r in self.metrics(spark, stage)
                .select("part_key", "n_rows")
                .collect()
            }
        new_keys = [k for k in counts if k not in already]
        refreshed = [
            k for k in counts if k in already and stored.get(k) != counts[k]
        ]
        mrows = [(k, counts[k]) for k in new_keys + refreshed]
        if mrows:
            metrics_df = local_frame(
                spark,
                [(k, n, stage) for k, n in mrows],
                "part_key string, n_rows bigint, stage string",
            )
            _dynamic_overwrite(
                metrics_df, self._metrics_path(stage), "part_key", cluster=False
            )

        if new_keys:
            # 4. lineage last = commit marker (also an idempotent upsert;
            #    refreshed keys are already committed — no new marker needed)
            lineage_df = local_frame(
                spark, [(k, stage) for k in new_keys], "part_key string, stage string"
            )
            _dynamic_overwrite(
                lineage_df, self._lineage_path(stage), "part_key", cluster=False
            )

        snap = {
            "ts": time.time(),
            "stage": stage,
            "part_col": part_col,
            "note": snapshot_note,
            "partitions": sorted(new_keys),
            "refreshed": sorted(refreshed),
        }
        with open(self._snapshots_path(stage), "a") as f:
            f.write(json.dumps(snap, default=str) + "\n")
        return snap

    # -- read ---------------------------------------------------------------
    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        """The stage's data. Its schema is the writer's, unknown here, so
        this read infers it — and, alone among the store's reads, still
        switches partition-column type inference off on the session for the
        duration of the read so the key comes back as a string."""
        return _read_keyed(spark, self._data_path(stage))

    def metrics(self, spark: SparkSession, stage: str) -> DataFrame:
        return _read_keyed(spark, self._metrics_path(stage), _METRICS_READBACK)

    def snapshots(self, stage: str) -> list[dict]:
        p = self._snapshots_path(stage)
        if not p.exists():
            return []
        return [json.loads(line) for line in p.read_text().splitlines() if line]

    def read_stage_as_of(
        self, spark: SparkSession, stage: str, snapshot: int
    ) -> DataFrame:
        """Partition-set time travel: read the stage restricted to the
        partitions committed by snapshots 0..``snapshot`` (inclusive).

        Semantics note (honest scope): dynamic overwrite rewrites a
        partition's files in place, so a partition recommitted AFTER the
        chosen snapshot reads back with its latest contents — this is
        Hive-style partition-set isolation (exactly what append-only
        resumable pipelines need), not full multi-version Iceberg MVCC.
        Partition pruning keeps the read to only the chosen directories.
        """
        snaps = self.snapshots(stage)
        if not -len(snaps) <= snapshot < len(snaps):
            raise IndexError(f"stage {stage!r} has {len(snaps)} snapshots")
        chosen = snaps[: (snapshot % len(snaps)) + 1]
        parts = sorted({p for s in chosen for p in s["partitions"]})
        part_col = chosen[-1].get("part_col", "part_key")
        df = self.read_stage(spark, stage)
        return df.where(F.col(part_col).isin(parts))


def run_resumable(
    store: SnapshotStore,
    spark: SparkSession,
    stage: str,
    work_keys: DataFrame,
    key: str,
    compute,
) -> DataFrame:
    """Resume-or-compute driver: computes only partitions missing from
    lineage, then returns the full stage output. ``compute(keys_df)`` must
    return a DataFrame containing ``key`` as its partition column."""
    todo = store.pending(work_keys, spark, stage, key)
    n_todo = todo.count()
    if n_todo > 0:
        out = compute(todo)
        store.write_stage(out.withColumnRenamed(key, "part_key"), stage, "part_key")
    return store.read_stage(spark, stage)
