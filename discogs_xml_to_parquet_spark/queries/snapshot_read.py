"""The FULL composed snapshot read (VERDICT r13 item 5): one query
executing everything an Iceberg/Delta reader runs per snapshot --
resolve a versioned manifest (time travel), plan the scan through the
three metadata gates (partition pruning x bucket-transform pruning x
min/max file skipping, off a file-stats manifest), read the explicit
file list in ONE parquet scan, and subtract the snapshot's positional
deletion vectors with a broadcast LeftAnti that never shuffles the
base.

The repo's single-mechanism lanes each prove one layer alone --
q_time_travel the versioned manifests (queries/merge.py:337),
q_delete_positional_dv the (file, row position) sidecars
(queries/deletion_vectors.py:180), q_lakehouse_read_path the
three-gate planned read (queries/lakehouse.py:178). This lane is
their composition, which is the ONLY form a production reader ever
executes: a snapshot is a manifest, the manifest is pruned to a file
list, and the deletes scoped to that snapshot subtract on the scan's
own row identity.

Story under test:
  v0    : a manifest of symlink pointers over the staged composed
          layout (year dirs x bucket-transform dirs x range-clustered
          files) -- the pre-merge table.
  MERGE : every 3rd order key inside the gate's year window is
          updated (+10.00 price, status 'U'); only the affected
          (year, bucket) cells are rewritten (range-clustered again),
          every other cell is shared into v1 by pointer -- O(affected)
          storage, atomic `_current` flip.
  DELETE: every 5th order key, resolved ONCE against v1 and stored as
          (file_path, row_index) sidecars -- v1's deletion vectors.
          v0 predates the delete, so its read must NOT subtract them:
          snapshot-scoped DVs are exactly what time travel promises.
  READ  : BOTH snapshots go through manifest -> three gates -> one
          explicit-file scan; v1 additionally anti-joins its DV set,
          PRUNED to the planned files (the per-file DV scoping a real
          reader does) and broadcast (the base never shuffles).

The oracle reconstructs both snapshots relationally (v0 = the raw
orders table; v1 = merged-then-deleted), so a row lost or duplicated
by ANY layer -- a gate over-pruning, a DV applied to the wrong
snapshot or the wrong file, a shared cell resolving to stale data --
breaks a checksum. The strict-decrease gate booleans and the
snapshot-isolation facts ride in the row, forced TRUE by the oracle.

Scale shape: manifests and pointers are O(files) kilobytes read
driver-side; the merge writes O(affected cells); the DV sidecar is
O(deleted rows); each snapshot read scans |planned files| and builds
an O(deletes-in-planned-files) broadcast. Nothing is O(table) except
the one base staging every lane shares.
"""

from __future__ import annotations

import shutil
import tempfile
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions.exact import dsum, rev_sql
from discogs_xml_to_parquet_spark.queries.lakehouse import (
    _KEYS,
    _N_RANGE_TASKS,
    _P_HI,
    _P_LO,
    _Y_HI,
    _Y_LO,
    build_lakehouse_manifest,
    planned_read,
    staged_lakehouse_orders,
)
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.staging import work_dir as _work_dir

_UPD_MOD = 3   # updates: every 3rd key inside the gate's year window
_DEL_MOD = 5   # positional deletes: every 5th key, table-wide


def _stat_inventory(root: str) -> dict[str, tuple[int, int]]:
    """Data files under `root` -> (size, mtime_ns): the stat-only
    untouched proof (the deletion_vectors.py discipline -- byte-level
    identity stays in pytest; the in-row boolean needs only 'no file
    rewritten, resized, or removed'). Private copy rather than an
    import: pulling queries.deletion_vectors here would drag its two
    queries into every driver window this module sits in."""
    return {
        str(p.relative_to(root)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in sorted(Path(root).rglob("*"))
        if p.is_file() and not p.name.startswith(("_", "."))
    }


def versioned_lakehouse(spark: SparkSession,
                        sf_dir: str) -> tuple[str, dict]:
    """Build the two-snapshot table: v0 = pointer manifest over the
    staged composed layout, v1 = the COW merge of the year-window
    updates (affected cells rewritten range-clustered, the rest
    shared by pointer), plus v1's positional deletion vectors under
    `_pdv_v1`. Returns (table root, facts)."""
    base = staged_lakehouse_orders(spark, sf_dir)
    table = Path(_work_dir("lh_snapshots", sf_dir))
    table.mkdir()
    cells = sorted(
        str(p.relative_to(base))
        for p in Path(base).glob("o_year=*/o_bucket=*") if p.is_dir()
    )
    v0 = table / "v0"
    for c in cells:
        (v0 / c).parent.mkdir(parents=True, exist_ok=True)
        (v0 / c).symlink_to(Path(base) / c)
    before = _stat_inventory(base)

    # the MERGE delta: deterministic updates the oracle re-derives
    ov = spark.read.option("basePath", str(v0)).parquet(str(v0))
    upd = (
        ov.filter(
            F.col("o_year").between(_Y_LO, _Y_HI)
            & (F.col("o_orderkey") % _UPD_MOD == 0)
        )
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0))
    )
    # affected (year, bucket) cells -- a <=|cells|-row metadata frame
    aff = sorted(
        (r["o_year"], r["o_bucket"])
        for r in upd.select("o_year", "o_bucket").distinct().collect()
    )
    aff_cells = [f"o_year={y}/o_bucket={b}" for y, b in aff]
    # rewrite ONLY the affected cells: the predicate is a disjunction
    # of partition-column conjunctions, so the base read partition-
    # prunes to those cells
    cell_pred = reduce(
        lambda a, b: a | b,
        [
            (F.col("o_year") == y) & (F.col("o_bucket") == b)
            for y, b in aff
        ],
    )
    merged = (
        ov.filter(cell_pred)
        .filter(~(F.col("o_orderkey") % _UPD_MOD == 0))
        .unionByName(upd)
    )
    # the rewrite keeps the range-cluster (same files-per-cell density
    # as the staging, scaled to the affected cell count) so the price
    # envelopes inside rewritten cells stay skippable
    n_tasks = max(1, round(_N_RANGE_TASKS * len(aff) / len(cells)))
    newver = tempfile.mkdtemp(prefix="spark_graft_lh_snap_new_")
    (
        merged.repartitionByRange(
            n_tasks, "o_year", "o_bucket", "o_totalprice")
        .write.mode("overwrite")
        .partitionBy("o_year", "o_bucket")
        .parquet(newver)
    )
    v1 = table / "v1"
    for c in cells:
        (v1 / c).parent.mkdir(parents=True, exist_ok=True)
        if c in aff_cells:
            shutil.move(str(Path(newver) / c), str(v1 / c))
        else:
            (v1 / c).symlink_to((v0 / c).resolve())
    shutil.rmtree(newver, ignore_errors=True)
    # atomic publish: write-temp + rename
    ptr_tmp = table / "_current.tmp"
    ptr_tmp.write_text("v1")
    ptr_tmp.rename(table / "_current")

    # v1's positional deletion vectors: resolve the predicate ONCE,
    # store the scan's own row identity -- no key column ever rides
    # the read path again
    pdv_dir = table / "_pdv_v1"
    v1df = spark.read.option("basePath", str(v1)).parquet(str(v1))
    (
        v1df.filter(F.col("o_orderkey") % _DEL_MOD == 0)
        .select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("row_pos"),
        )
        .write.mode("overwrite").parquet(str(pdv_dir))
    )
    n_dv_rows = spark.read.parquet(str(pdv_dir)).count()

    after = _stat_inventory(base)
    shared = [c for c in cells if c not in aff_cells]
    facts = {
        "current": (table / "_current").read_text(),
        "n_dv_rows": n_dv_rows,
        "base_untouched": before == after,
        "storage_shared": bool(shared) and all(
            (v1 / c).resolve() == (v0 / c).resolve() for c in shared),
        "v0_intact": sorted(
            str(p.relative_to(v0))
            for p in v0.glob("o_year=*/o_bucket=*")) == cells,
    }
    return str(table), facts


def snapshot_scan(spark: SparkSession, version_root: str,
                  manifest_dir: str,
                  pdv_dir: str | None = None,
                  ) -> tuple[DataFrame, dict]:
    """One snapshot's composed scan: file-stats manifest -> three
    gates -> explicit-file read (partition predicate re-planned as
    PartitionFilters via basePath) -> snapshot-scoped positional DV
    subtraction. The DV build side is PRUNED to the planned file list
    before the broadcast -- the per-file delete scoping a real reader
    does, and what keeps the anti-join build O(deletes-in-scan)
    rather than O(deletes-in-table). (At driver-list scale the prune
    is an isin; a million-file table would ship the planned list as a
    frame and semi-join it.)"""
    build_lakehouse_manifest(spark, version_root, manifest_dir)
    df, counts = planned_read(spark, version_root, manifest_dir)
    counts["dv_applied"] = False
    if pdv_dir is not None and list(Path(pdv_dir).glob("*.parquet")):
        dv = (
            spark.read.parquet(pdv_dir)
            .filter(F.col("file_path").isin(counts["files"]))
            .select("file_path", "row_pos")
        )
        cols = df.columns
        df = (
            df.select(
                "*",
                F.col("_metadata.file_path").alias("_dv_fp"),
                F.col("_metadata.row_index").alias("_dv_ri"),
            )
            .join(
                dv,
                (F.col("_dv_fp") == F.col("file_path"))
                & (F.col("_dv_ri") == F.col("row_pos")),
                "left_anti",
            )
            .select(*cols)
        )
        counts["dv_applied"] = True
    return df, counts


_REV_SQL = rev_sql("o_totalprice")
_GATE_SQL = (
    f"o_year BETWEEN {_Y_LO} AND {_Y_HI}"
    f" AND o_custkey IN {_KEYS!r}"
    f" AND o_totalprice BETWEEN {_P_LO} AND {_P_HI}"
)


@query(
    "q_snapshot_read",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         year(o_orderdate) AS o_year
  FROM orders
),
delta AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice + 10.0 AS o_totalprice, o_year
  FROM base
  WHERE o_year BETWEEN {_Y_LO} AND {_Y_HI}
    AND o_orderkey % {_UPD_MOD} = 0
),
merged AS (
  SELECT * FROM base
  WHERE NOT (o_year BETWEEN {_Y_LO} AND {_Y_HI}
             AND o_orderkey % {_UPD_MOD} = 0)
  UNION ALL
  SELECT * FROM delta
),
live AS (SELECT * FROM merged WHERE o_orderkey % {_DEL_MOD} <> 0)
SELECT 'v0' AS version,
       COUNT(*) AS n_rows,
       {_REV_SQL} AS revenue,
       COUNT(*) FILTER (WHERE o_orderstatus = 'U') AS n_changed,
       TRUE AS partition_pruned, TRUE AS bucket_pruned,
       TRUE AS files_skipped, FALSE AS dv_applied,
       TRUE AS storage_shared, TRUE AS v0_intact
FROM base WHERE {_GATE_SQL}
UNION ALL
SELECT 'v1', COUNT(*), {_REV_SQL},
       COUNT(*) FILTER (WHERE o_orderstatus = 'U'),
       TRUE, TRUE, TRUE, TRUE, TRUE, TRUE
FROM live WHERE {_GATE_SQL}
ORDER BY version
""",
)
def q_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both snapshots of the versioned composed table, each read
    through manifest resolution, the three-gate scan plan, and (for
    v1) its positional deletion vectors; per-version row counts,
    exact revenue, and changed-row counts checksummed against the
    relational reconstruction. v0's row pins snapshot isolation
    (pre-merge values, NO DV subtraction -- dv_applied FALSE is
    forced by the oracle); v1's pins the merge, the share-by-pointer
    storage, and the delete. The gate booleans are the planned read's
    strict file-set decreases, per snapshot."""
    table, facts = versioned_lakehouse(spark, sf_dir)

    def snap(tag: str, version: str, pdv: str | None) -> DataFrame:
        df, n = snapshot_scan(
            spark, f"{table}/{version}", f"{table}/_man_{version}", pdv)
        return (
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                dsum(F.col("o_totalprice")).alias("revenue"),
                F.count(F.when(F.col("o_orderstatus") == "U", 1))
                .alias("n_changed"),
            )
            .withColumn("version", F.lit(tag))
            .withColumn(
                "partition_pruned",
                F.lit(bool(n["after_partition"] < n["total"])))
            .withColumn(
                "bucket_pruned",
                F.lit(bool(n["after_bucket"] < n["after_partition"])))
            .withColumn(
                "files_skipped",
                F.lit(bool(0 < n["after_skip"] < n["after_bucket"])))
            .withColumn("dv_applied", F.lit(bool(n["dv_applied"])))
        )

    return (
        snap("v0", "v0", None)
        .unionByName(snap("v1", facts["current"], f"{table}/_pdv_v1"))
        .withColumn("storage_shared",
                    F.lit(bool(facts["storage_shared"])))
        .withColumn("v0_intact", F.lit(bool(facts["v0_intact"])))
        .select("version", "n_rows", "revenue", "n_changed",
                "partition_pruned", "bucket_pruned", "files_skipped",
                "dv_applied", "storage_shared", "v0_intact")
        .orderBy("version")
    )
