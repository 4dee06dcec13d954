"""Sinks (SURVEY.md §2.2, §1.4).

The reference's storage model is append-only CSV rewritten in full every
day, versioned by DVC md5 (reference raw_data.py:241-269, data/*.dvc). The
Spark-native storage model:

- **Date-partitioned parquet** as the system of record. The daily upsert
  touches only the target date's partitions (dynamic partition overwrite)
  instead of rewriting history — at 100 TB that is the difference between
  an O(day) and O(years) write.
- **Bucketed tables** for fact tables that join repeatedly on one key:
  bucket both sides → the join needs no shuffle at read time.
- **CSV export** kept as a parity/interchange surface (K1/K2 semantics,
  exact column names preserved).
- **JSON metrics doc** (K3) — O(1) driver-side write.
- **Content hash manifest** — the engine-side analog of DVC's md5 role
  (K4): a deterministic order-insensitive hash of the dataset for
  regression pinning.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.operators.merge import upsert_keep_last


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Date-partitioned parquet sink with dynamic partition overwrite (a
    per-write option, never session conf): an idempotent daily job
    rewrites only the partitions present in ``df``."""
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*partition_cols).parquet(path)


def _partition_in(partition_col: str, values: list) -> Column:
    """Rows in the ``values`` partitions. isin() never matches NULL: a None
    needs the IS NULL branch or the null partition's rows are lost (review fix)."""
    cond = F.col(partition_col).isin([v for v in values if v is not None])
    if None in values:
        cond = cond | F.col(partition_col).isNull()
    return cond


def merge_into_partitioned(
    new: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str,
) -> None:
    """Upsert ``new`` into the partitioned sink, new-wins per key (D1).

    Only partitions present in ``new`` are read back, merged, and
    rewritten — the reference's read-modify-write of the whole CSV
    (raw_data.py:246-263) shrunk to the touched dates. Emulates Delta
    MERGE with plain parquet. Same-key rows within ``new`` keep one row,
    on the first write too.
    """
    from pyspark.errors import AnalysisException

    try:
        existing = new.sparkSession.read.parquet(path)
    except AnalysisException:  # path not found — first write, nothing to merge
        existing_slice = new.limit(0)
    else:
        # Any error past this point (corrupt file, permission, schema
        # mismatch) must propagate: treating it as "first write" would
        # dynamic-overwrite touched partitions with only the new rows and
        # silently drop the existing rows that should have been merged.
        # collect-ok: O(distinct partition values) manifest
        touched = [
            r[0] for r in new.select(partition_col).distinct().collect()
        ]
        existing_slice = existing.filter(_partition_in(partition_col, touched)).persist()
        # materialize the slice BEFORE the overwrite: the merged plan
        # otherwise reads the very files the committer replaces (the
        # delete_where guard, applied here too)
        existing_slice.count()
    try:
        write_partitioned(
            upsert_keep_last(existing_slice, new, keys=keys), path, [partition_col]
        )
    finally:
        existing_slice.unpersist()


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    align_partitions: bool = True,
) -> None:
    """Bucketed managed table: both sides of a repeated equi-join bucketed
    on the key read co-located — the join plans with zero exchanges
    (verify: no Exchange under SortMergeJoin in .explain).

    ``align_partitions`` (default ON) repartitions by the bucket column
    first: the bucket hash is the shuffle hash, so each write task then
    holds exactly one bucket and emits ONE file. Without it every input
    partition writes a file per bucket it touches — up to
    |partitions| x |buckets| files (measured: a 32-partition frame
    misaligned with 32 buckets wrote 1,024 files instead of 32; at
    1000-executor scale that is a millions-of-small-files store). Skip
    only when the input is already partitioned by the bucket column."""
    spark = df.sparkSession
    if align_partitions:
        df = df.repartition(num_buckets, F.col(bucket_col))
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # a crashed prior run can leave the managed location behind with no
    # catalog entry — saveAsTable refuses to reuse it, so clear it
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    # the metastore lowercases table names and nests db-qualified tables
    # under <db>.db/ — the verbatim join missed the leftover directory
    # this guard exists to clear (review fix)
    parts = table_name.lower().split(".")
    rel = (
        os.path.join(f"{parts[0]}.db", parts[1])
        if len(parts) == 2
        else parts[0]
    )
    loc = os.path.join(warehouse.removeprefix("file:"), rel)
    if os.path.exists(loc):
        import shutil

        shutil.rmtree(loc)
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def register_bucketed_table(
    spark: SparkSession,
    table_name: str,
    location: str,
    schema_sql: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Register an EXISTING bucketed-table directory (files written by
    :func:`write_bucketed` — bucket ids ride in the part-file names) in
    the current session's catalog as an EXTERNAL table, with the
    bucketing spec restated in DDL. The deployment story for pre-landed
    graph/dim tables: a persistent metastore remembers the spec across
    sessions, but local in-memory catalogs forget it on restart — this
    is the bridge (and what `tools/ab_prepared_edges.py`'s per-session
    measurement uses). External: dropping the registration never
    deletes the files. Do NOT register over a same-session MANAGED
    table's own name — the DROP here would delete its files."""
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    sort = f" SORTED BY ({sort_col})" if sort_col else ""
    spark.sql(
        f"CREATE TABLE {table_name} ({schema_sql}) USING parquet "
        f"CLUSTERED BY ({bucket_col}){sort} INTO {num_buckets} BUCKETS "
        f"LOCATION '{location}'"
    )


def promote_overwrite(df: DataFrame, path: str) -> None:
    """Two-phase parquet overwrite for stores whose OWN plan reads
    ``path`` (the incremental read-transform-replace shape): materialize
    to ``<path>.tmp`` first, then swap by rename — never clobber an
    input mid-plan, never leave a stale ``.tmp`` for glob consumers.
    Falls back to a copy-write when the rename crosses devices or the
    path isn't local."""
    import shutil

    tmp = path.rstrip("/") + ".tmp"
    old = path.rstrip("/") + ".promote.old"
    # recover a prior crash: a stale .old with no live store IS the
    # store (crashed between the two renames) — restore it first
    if os.path.exists(old) and not os.path.exists(path):
        os.replace(old, path)
    shutil.rmtree(old, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    # never a window with NO store at path: rename the live store aside,
    # swap the tmp in, and only then drop the backup (review fix — the
    # previous rmtree-then-replace order lost the store on a crash
    # between the two steps, with only .tmp left behind)
    if os.path.exists(path):
        os.replace(path, old)
    try:
        os.replace(tmp, path)
    except OSError:
        if os.path.exists(old):  # restore before the slow fallback
            os.replace(old, path)
        df.sparkSession.read.parquet(tmp).write.mode("overwrite").parquet(path)
        shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)


def export_csv(df: DataFrame, path: str) -> None:
    """K1/K2 parity export: single-header CSV directory, exact column
    names (incl. %/£ chars), UTC ISO timestamps."""
    df.write.mode("overwrite").option("header", True).csv(path)


def write_metrics_json(metrics: dict, path: str) -> None:
    """K3: the monitoring document (reference raw_data.py:396-424) —
    read-modify-write of an O(1) JSON doc stays driver-side."""
    existing: dict = {}
    if os.path.exists(path):
        with open(path) as fh:
            try:
                existing = json.load(fh)
            except json.JSONDecodeError:
                existing = {}
    existing.update(metrics)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        json.dump(existing, fh, indent=2, sort_keys=True)


def content_hash(df: DataFrame) -> str:
    """K4 analog: deterministic, order-insensitive content hash (sum of
    per-row md5 prefixes over canonicalized values). Plays DVC's md5 role:
    pin it in a test, re-run the pipeline, compare."""
    hashed = df.select(
        F.conv(
            F.substring(F.md5(F.to_json(F.struct(*sorted(df.columns)))), 1, 15),
            16,
            10,
        )
        .cast("decimal(38,0)")
        .alias("h")
    )
    total = hashed.agg(F.sum("h").alias("s")).first()["s"]
    return format(int(total or 0) % (1 << 128), "x")


def write_sorted_for_skipping(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    target_files: int | None = None,
) -> None:
    """Data-skipping layout: range-partition + sort the data on the skip
    columns before writing, so each parquet file owns a narrow, mostly
    disjoint min/max range — the poor-man's Z-order. A later filtered
    scan on those columns prunes whole files/row-groups from the parquet
    footer statistics alone; on a 100 TB fact table that is the
    difference between touching every file and touching the few that can
    contain the predicate range.

    ``repartitionByRange`` samples the sort keys for balanced range
    bounds (one shuffle), ``sortWithinPartitions`` orders rows inside
    each file so row-group stats stay tight too."""
    parted = (
        df.repartitionByRange(target_files, *sort_cols)
        if target_files
        else df.repartitionByRange(*sort_cols)
    )
    parted.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(
        path
    )


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 16
) -> DataFrame:
    """Append a ``__z`` Morton (Z-order) key interleaving the bits of
    each column's rank bucket. Buckets come from min/max linear scaling
    into [0, 2^bits) — ONE tiny aggregate (collected as 2·len(cols)
    scalars) folded back as literals, so the bucket step is map-only.

    Bit interleave is a fixed shift/mask expression chain (len(cols) ×
    bits operations) — integer-exact, whole-stage-codegen friendly.

    Guards: the highest shift position is ``len(cols)*bits - 1``; Java's
    shiftleft wraps at 64 (shift mod 64), which would silently scramble
    the Morton order, so ``len(cols)*bits`` must stay ≤ 63 — pass a
    smaller ``bits`` for wide column sets (e.g. 4 cols → bits ≤ 15).
    Empty / all-null inputs have no min/max to scale by and raise.
    """
    if not cols:
        raise ValueError("zorder_value needs at least one column")
    if len(cols) * bits > 63:
        raise ValueError(
            f"len(cols)*bits = {len(cols) * bits} exceeds 63: shiftleft "
            f"wraps mod 64 and would scramble the Morton order; lower "
            f"bits to <= {63 // len(cols)} for {len(cols)} columns"
        )
    bounds = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).first()
    n_buckets = 1 << bits
    bucket_cols = []
    for c in cols:
        if bounds[f"lo_{c}"] is None or bounds[f"hi_{c}"] is None:
            raise ValueError(
                f"zorder_value: column {c!r} has no min/max (empty "
                f"DataFrame or all-null column) — nothing to bucket"
            )
        lo = float(bounds[f"lo_{c}"])
        hi = float(bounds[f"hi_{c}"])
        span = (hi - lo) or 1.0
        b = F.least(
            F.lit(n_buckets - 1),
            F.floor(
                (F.col(c).cast("double") - F.lit(lo))
                / F.lit(span)
                * n_buckets
            ).cast("long"),
        )
        bucket_cols.append(F.greatest(F.lit(0), b))
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for i, b in enumerate(bucket_cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1).cast("long")),
                    bit * len(cols) + i,
                )
            )
    return df.withColumn("__z", z)


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    target_files: int | None = None,
    bits: int = 16,
) -> None:
    """Multi-column data-skipping layout: range-partition + sort on the
    Morton key so each parquet file owns a small HYPER-RECTANGLE of the
    (col1, col2, …) space — footer min/max stats then prune files for
    predicates on ANY of the interleaved columns, where a plain sort
    only skips on its leading column. The Databricks/Iceberg Z-ORDER
    device, expressed as two narrow steps: map-only key computation +
    one range shuffle."""
    with_z = zorder_value(df, cols, bits)
    parted = (
        with_z.repartitionByRange(target_files, "__z")
        if target_files
        else with_z.repartitionByRange("__z")
    )
    parted.sortWithinPartitions("__z").drop("__z").write.mode(
        "overwrite"
    ).parquet(path)


def compact_parquet(
    spark, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-file compaction — the maintenance job every streaming/
    incremental sink eventually needs (each micro-batch append writes
    O(partitions) files; a year of half-hourly cron ticks is ~17k tiny
    files whose footer reads dominate scan time at 100 TB).

    Hive-partitioned stores (the ``write_partitioned`` /
    ``merge_into_partitioned`` layout, ``key=value`` subdirectories) are
    detected from the directory names and rewritten WITH the same
    ``partitionBy`` — a flat rewrite would mix root-level files with
    ``key=`` dirs on the next dynamic-partition merge and break both
    reads and partition pruning. The rewrite hash-partitions on the
    partition columns, so every ``key=`` dir compacts to one file (all
    rows of a key land in one task); unpartitioned stores compact to
    ceil(bytes / target) files.

    Swap protocol (LOCAL-FS ONLY — ``os.rename``; object stores need a
    table format / manifest pointer, see ``write_versioned`` for the
    crash-safe pointer device): write ``.compact.tmp`` → verify its row
    count matches the source → rename source to ``.compact.old`` →
    rename tmp into place → verification read of the final store →
    only then drop the backup. On any verification failure the backup
    is restored/kept and the error propagates. The brief window between
    the two renames (path absent) is inherent to directory renames on a
    plain filesystem; if a crash lands there, ``.compact.old`` holds the
    intact store. Returns the new file count.
    """
    import math
    import shutil

    back = path.rstrip("/") + ".compact.old"
    # Crash-artifact recovery (review fix): a prior run killed between
    # the two swap renames leaves the data ONLY in .compact.old (restore
    # it); one killed after the swap but before cleanup leaves a stale
    # .compact.old next to a healthy store (drop it). Without this, the
    # next compaction tick fails forever on the leftover directory.
    if os.path.exists(back) and not os.path.exists(path):
        os.rename(back, path)
    shutil.rmtree(back, ignore_errors=True)
    shutil.rmtree(path.rstrip("/") + ".compact.tmp", ignore_errors=True)

    part_cols = sorted(
        {
            d.split("=", 1)[0]
            for d in os.listdir(path)
            if "=" in d and os.path.isdir(os.path.join(path, d))
        }
    )
    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size / target_file_bytes))
    tmp = path.rstrip("/") + ".compact.tmp"
    src = spark.read.parquet(path)
    src_rows = src.count()
    if part_cols:
        src.repartition(n_files, *part_cols).write.mode(
            "overwrite"
        ).partitionBy(*part_cols).parquet(tmp)
    else:
        src.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    if spark.read.parquet(tmp).count() != src_rows:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compact_parquet: rewrite of {path} lost rows; aborted "
            f"before swap, source untouched"
        )
    os.rename(path, back)
    os.rename(tmp, path)
    try:
        ok = spark.read.parquet(path).count() == src_rows
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(path, ignore_errors=True)
        os.rename(back, path)
        raise RuntimeError(
            f"compact_parquet: verification read of compacted {path} "
            f"failed; original store restored from backup"
        )
    shutil.rmtree(back)
    return n_files


def write_versioned(df: DataFrame, root: str) -> int:
    """Versioned snapshot write (the poor-man's table format): each call
    lands a complete snapshot under ``root/v=N`` and atomically repoints
    ``root/_CURRENT`` (write-temp + rename) — readers following the
    pointer see an old or a new snapshot, never a mix, and any prior
    version stays readable for time travel / rollback. Returns N."""
    import os

    os.makedirs(root, exist_ok=True)
    versions = [
        int(d.split("=")[1])
        for d in os.listdir(root)
        if d.startswith("v=") and d.split("=")[1].isdigit()
    ]
    n = max(versions, default=-1) + 1
    df.write.mode("errorifexists").parquet(os.path.join(root, f"v={n}"))
    tmp = os.path.join(root, "._CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(n))
    os.replace(tmp, os.path.join(root, "_CURRENT"))
    return n


def read_versioned(spark, root: str, version: int | None = None) -> DataFrame:
    """Read a snapshot: the _CURRENT pointer by default, or any explicit
    ``version`` for time travel."""
    import os

    if version is None:
        with open(os.path.join(root, "_CURRENT")) as fh:
            version = int(fh.read().strip())
    return spark.read.parquet(os.path.join(root, f"v={version}"))


def rollback_versioned(root: str, version: int) -> None:
    """Repoint _CURRENT at an older snapshot (atomic rename)."""
    import os

    if not os.path.isdir(os.path.join(root, f"v={version}")):
        raise FileNotFoundError(f"no snapshot v={version} under {root}")
    tmp = os.path.join(root, "._CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(root, "_CURRENT"))


def write_training_shards(
    df: DataFrame,
    root: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    fmt: str = "json",
) -> dict:
    """Training-export sink: shard the corpus into exactly ``n_shards``
    files by deterministic md5(doc id) (the q47/q65 device — stable
    across runs and engines, no RNG), one file per shard in (shard,
    doc_id) order, plus a ``_MANIFEST.json`` with per-shard row and
    token counts. This is the hand-off surface to a training job:
    multi-worker loaders consume one shard each, the manifest tells the
    scheduler how much work each shard carries, and re-exporting the
    same corpus reproduces byte-identical shard membership.

    Format ``json`` emits JSONL (the lingua franca of LLM data drops);
    ``parquet`` keeps columnar. Returns the manifest dict.

    Scale shape: one repartition on the shard key (each output file is
    one partition — n_shards is the parallelism knob, sized so
    corpus/n_shards fits a worker), in-partition sort for reproducible
    line order, and a manifest from one O(n_shards) aggregate. The
    md5 shard key is uniform by construction, so shard skew is bounded
    by doc-length variance only."""
    shard = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        % n_shards
    ).cast("int")
    from big_data_project_datapipeline_spark.functions.text import token_count

    # persist around the two actions (manifest aggregate + shard write)
    # so the corpus is scanned/tokenized once, and both read the same
    # snapshot even if the input directory is concurrently appended
    staged = df.withColumn("shard", shard).persist()
    manifest_rows = (
        staged.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(token_count(F.col(text_col))).cast("long").alias("n_tokens"),
        )
        .collect()
    )
    out = (
        staged.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", id_col)
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    data_path = os.path.join(root, "data")
    try:
        if fmt == "json":
            out.json(data_path)
        elif fmt == "parquet":
            out.parquet(data_path)
        else:
            raise ValueError(f"unsupported fmt: {fmt}")
    finally:
        staged.unpersist()
    if any(r["shard"] is None for r in manifest_rows):
        staged.unpersist()
        raise ValueError(
            "write_training_shards: null doc ids present — they cannot "
            "be sharded deterministically (md5(NULL) is NULL); drop or "
            "key them first"
        )
    manifest = {
        "n_shards": n_shards,
        "format": fmt,
        "shards": {
            str(r["shard"]): {"n_rows": r["n_rows"], "n_tokens": r["n_tokens"]}
            for r in sorted(manifest_rows, key=lambda r: r["shard"])
        },
        "total_rows": int(sum(r["n_rows"] for r in manifest_rows)),
        "total_tokens": int(sum(r["n_tokens"] or 0 for r in manifest_rows)),
    }
    tmp = os.path.join(root, "._MANIFEST.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(root, "_MANIFEST.json"))
    return manifest


def delete_where(
    spark: SparkSession,
    path: str,
    condition,
    partition_col: str,
) -> int:
    """Targeted row purge from a hive-partitioned parquet store (the
    GDPR-delete / right-to-be-forgotten shape): locate the partitions
    that actually contain matching rows (one pruned scan), rewrite ONLY
    those partitions without the matches (dynamic partition overwrite),
    and leave every other partition's files untouched. Returns the
    number of rows deleted (rows where ``condition`` is TRUE — a NULL
    predicate result keeps the row, SQL DELETE semantics).

    This is DELETE-emulation over plain parquet, the same posture as
    merge_into_partitioned's MERGE emulation: at 100 TB the point is
    that a purge touches O(partitions containing the subject), never
    the store. ``condition`` is a boolean Column over the store's
    schema.

    Two failure modes of the naive version are handled explicitly
    (both found by review, pinned by tests): a partition whose rows
    ALL match produces no output rows, and dynamic overwrite cannot
    rewrite an empty partition — its directory is removed directly
    (local-FS path semantics, the compact_parquet caveat; on object
    stores emit a delete marker instead); and ``~condition`` alone
    would also drop NULL-evaluating rows, so the keep filter is
    ``~condition OR condition IS NULL``."""
    import shutil

    existing = spark.read.parquet(path)
    # collect-ok: O(distinct partition values) manifest
    touched = [
        r[0]
        for r in existing.filter(condition)
        .select(partition_col)
        .distinct()
        .collect()
    ]
    if not touched:
        return 0
    slice_ = existing.filter(_partition_in(partition_col, touched)).persist()
    try:
        # one pass for both counts; materializes the cache the rewrite
        # reads from (so the write never scans the files it replaces)
        stats = slice_.agg(
            F.sum(F.when(condition, 1).otherwise(0)).alias("matched")
        ).first()
        kept = slice_.filter(~condition | condition.isNull())
        kept_parts = {
            r[0] for r in kept.select(partition_col).distinct().collect()
        }
        if kept_parts:
            write_partitioned(kept, path, [partition_col])
    finally:
        slice_.unpersist()
    for p in touched:
        if p not in kept_parts:
            dirname = (
                f"{partition_col}=__HIVE_DEFAULT_PARTITION__"
                if p is None
                else f"{partition_col}={p}"
            )
            shutil.rmtree(os.path.join(path, dirname), ignore_errors=True)
    return int(stats["matched"] or 0)
