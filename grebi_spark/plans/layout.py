"""Z-order clustered layout + 2-D data skipping.

A 100 TB fact table is usually range-partitioned on ONE key; a query
constraining a second dimension still scans every partition. Z-order
clustering interleaves the bits of two bucketed keys into one cell id
and lays the table out by cell, so a query rectangle over (user, day)
prunes in BOTH dimensions at once: the rectangle's z-cover is a bounded
cell list, pushed into the scan as a partition filter — the layout-level
data skipping Delta/Iceberg OPTIMIZE ZORDER performs, expressed with
nothing but integer arithmetic and partitioned Parquet (no table format
or metadata service required). The reference has no layout story at all
(its merged files are consumed sequentially); this is what makes the
same queries selective at cluster scale.

Design constraints kept deliberately engine-portable:

- Binning and bit-interleave are pure integer arithmetic (DIV/%), so
  DuckDB mirrors the exact cell function (``zorder_cell_histogram``
  hash-checks the math itself, not just downstream results).
- Bucket bounds derive from the table's own min/max — the oracle
  recomputes them in a CTE; nothing is sampled or floating-point.
- The query rectangle's z-cover is computed driver-side over the
  BOUNDED cell universe (2^(2·bits) cells — 256 here; the cover loop is
  O(cells), independent of data size) and pushed as ``z IN (...)``;
  exact residual predicates keep the answer precise, so the cover only
  has to be a superset — the standard coarse-filter/exact-verify split
  every blocked operator in this repo uses.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact
from ..session import load_tables

Z_BITS = 4  # per dimension → 16×16 = 256 cells
_N_BINS = 1 << Z_BITS

# epoch day of the event timestamp — matches temporal.py's convention
# (Spark session tz is UTC, so CAST(ts AS DATE) agrees across engines)
_DAY_SPARK = "unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000"
_DAY_DUCK = "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))"


def _bin_expr(col: str, lo: str, hi: str, div: str) -> str:
    """Integer bucket of ``col`` into [0, _N_BINS) over [lo, hi],
    CLAMPED to the edge bins — appended rows may fall outside the
    bounds the layout was built with (a no-op for in-range values, and
    identical in Spark and DuckDB: both LEAST/GREATEST)."""
    raw = f"(({col} - {lo}) * {_N_BINS}) {div} ({hi} - {lo} + 1)"
    return f"LEAST({_N_BINS - 1}, GREATEST(0, {raw}))"


def _interleave_expr(ub: str, db: str, div: str) -> str:
    """Bit-interleave two {Z_BITS}-bit buckets (ub gets the odd bits)."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({ub}) {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"((({db}) {div} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


def _interleave_py(ub: int, db: int) -> int:
    z = 0
    for i in range(Z_BITS):
        z |= ((ub >> i) & 1) << (2 * i + 1)
        z |= ((db >> i) & 1) << (2 * i)
    return z


@artifact
def _bounds(spark: SparkSession, sf_dir: str) -> dict:
    """min/max of both z dimensions plus the derived query rectangle —
    four bounded scalars off one aggregate, computed once per
    (session, sf_dir); the oracle recomputes the same numbers in its
    CTE. Without the cache every pruned-scan call would pay a full
    events aggregate scan that dwarfs the pruned read itself."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    row = ev.select(
        F.min("user_id").alias("mu"),
        F.max("user_id").alias("xu"),
        F.expr(f"min({_DAY_SPARK})").alias("md"),
        F.expr(f"max({_DAY_SPARK})").alias("xd"),
    ).collect()[0]
    mu, xu, md, xd = int(row["mu"]), int(row["xu"]), int(row["md"]), int(row["xd"])
    su, sd = xu - mu + 1, xd - md + 1
    return {
        "mu": mu, "xu": xu, "md": md, "xd": xd,
        # the deterministic query rectangle: the second quarter of each
        # dimension's span (non-degenerate at every harness sf)
        "u1": mu + su // 4, "u2": mu + su // 2,
        "d1": md + sd // 4, "d2": md + sd // 2,
    }


def _layout_z_expr(bins: dict) -> str:
    ub = _bin_expr("user_id", bins["mu"], bins["xu"], "DIV")
    db = _bin_expr(f"({_DAY_SPARK})", bins["md"], bins["xd"], "DIV")
    return _interleave_expr(ub, db, "DIV")


def _write_layout(
    spark: SparkSession,
    events_df: DataFrame,
    root: str,
    bins: dict | None = None,
) -> dict:
    """Cluster + write a z-layout and RECORD its binning rule (the
    bucket bounds) next to the data — the rule is part of the layout,
    exactly like the ANN index's persisted assignment rule: appends
    must bin with the bounds the layout was built with, not with their
    own. Pass ``bins`` when the bounds are already known (e.g. from the
    shared ``_bounds`` aggregate) to spare a second full-table scan.
    The meta lives under ``_layout_meta`` (underscore-prefixed, so the
    parquet reader's partition discovery ignores it)."""
    if bins is None:
        row = events_df.select(
            F.min("user_id").alias("mu"),
            F.max("user_id").alias("xu"),
            F.expr(f"min({_DAY_SPARK})").alias("md"),
            F.expr(f"max({_DAY_SPARK})").alias("xd"),
        ).collect()[0]
        if row["mu"] is None:
            raise ValueError("cannot build a z-layout over an empty table")
        bins = {k: int(row[k]) for k in ("mu", "xu", "md", "xd")}
    else:
        bins = {k: int(bins[k]) for k in ("mu", "xu", "md", "xd")}
    (
        events_df.withColumn("z", F.expr(_layout_z_expr(bins)).cast("int"))
        # cluster rows by cell BEFORE the partitioned write (one file
        # per cell, not per task — the ANN-lists small-files discipline)
        .repartition(F.col("z"))
        .write.mode("overwrite")
        .partitionBy("z")
        .parquet(root)
    )
    spark.createDataFrame(
        [tuple(bins[k] for k in ("mu", "xu", "md", "xd"))],
        "mu long, xu long, md long, xd long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/_layout_meta")
    return bins


def _read_layout_bins(spark: SparkSession, root: str) -> dict:
    r = spark.read.parquet(f"{root}/_layout_meta").collect()[0]
    return {k: int(r[k]) for k in ("mu", "xu", "md", "xd")}


def zorder_append(spark: SparkSession, root: str, new_events: DataFrame) -> None:
    """Incremental layout maintenance: fold new rows into an existing
    z-layout WITHOUT re-clustering — each row is binned by the layout's
    RECORDED bounds (clamped to the edge cells when it falls outside
    them) and appended under its cell directory; untouched cells' files
    are never rewritten. The OPTIMIZE-ZORDER concern at 100 TB is
    exactly this: data keeps arriving after the layout is built, and a
    full re-cluster per batch is the cost the recorded rule avoids."""
    bins = _read_layout_bins(spark, root)
    (
        new_events.withColumn("z", F.expr(_layout_z_expr(bins)).cast("int"))
        .repartition(F.col("z"))  # one file per touched cell
        .write.mode("append")
        .partitionBy("z")
        .parquet(root)
    )


def compact_layout(spark: SparkSession, root: str, max_files: int = 2) -> int:
    """The maintenance sweep for an appended layout: every
    ``zorder_append`` adds a file per touched cell, so a long-lived
    layout accumulates small files exactly where appends concentrate.
    Rewrite ONLY the cells holding more than ``max_files`` files — read
    back via partition pruning, one file each under dynamic partition
    overwrite; untouched cells' files are never touched (the same
    minor-compaction contract as ``compact_ann_index`` and
    ``compact_state``). Returns the number of cells compacted."""
    from ..fsutil import hadoop_ls

    crowded = []
    for cell_dir in hadoop_ls(spark, root, dirs_only=True):
        name = cell_dir.getPath().getName()
        if not name.startswith("z="):
            continue
        nfiles = sum(
            1
            for f in hadoop_ls(spark, cell_dir.getPath())
            if f.getPath().getName().endswith(".parquet")
        )
        if nfiles > max_files:
            crowded.append(int(name.split("=", 1)[1]))
    if not crowded:
        return 0
    rows = (
        spark.read.parquet(root)
        .filter(F.col("z").isin(crowded))
        .localCheckpoint()  # materialise BEFORE overwriting the source
    )
    (
        rows.withColumn("z", F.col("z").cast("int"))
        .repartition(F.col("z"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("z")
        .parquet(root)
    )
    return len(crowded)


@artifact
def _zorder_root(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """The session's shared z-layout over the WHOLE events table, plus
    the query-rectangle bounds."""
    b = _bounds(spark, sf_dir)
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    root = tempfile.mkdtemp(prefix="grebi_zorder_")
    _write_layout(spark, ev, root, bins=b)  # _bounds already scanned
    return root, b


def _rect_bins(b: dict, bins: dict | None = None) -> tuple[int, int, int, int]:
    """The query rectangle's bucket bounds (bu1, bu2, bd1, bd2) under
    the LAYOUT's binning rule (``bins`` — defaults to the rectangle's
    own bounds dict). Clamped like the SQL binning, so a rectangle that
    reaches past the layout's recorded bounds covers the edge cells —
    monotonicity of the clamped bin keeps the enumeration a superset of
    every matching row's cell."""
    bins = bins or b

    def bin_of(v: int, lo: int, hi: int) -> int:
        return max(0, min(_N_BINS - 1, (v - lo) * _N_BINS // (hi - lo + 1)))

    return (
        bin_of(b["u1"], bins["mu"], bins["xu"]),
        bin_of(b["u2"], bins["mu"], bins["xu"]),
        bin_of(b["d1"], bins["md"], bins["xd"]),
        bin_of(b["d2"], bins["md"], bins["xd"]),
    )


def _z_cover(b: dict, bins: dict | None = None) -> list[int]:
    """The query rectangle's z-cover: every cell whose (user bucket,
    day bucket) intersects the rectangle. Bounded by the cell universe,
    never by the data."""
    bu1, bu2, bd1, bd2 = _rect_bins(b, bins)
    return sorted(
        _interleave_py(ub, db)
        for ub in range(bu1, bu2 + 1)
        for db in range(bd1, bd2 + 1)
    )


def zorder_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-D pruned scan: answer a (user range × day range) rectangle
    query from the z-clustered layout, reading ONLY the cover's cell
    directories (PartitionFilters, plan-gated in the suite) plus exact
    residual predicates. Hash-must-match the plain full-scan SQL — the
    layout changes WHAT IS READ, never the answer. At the harness rect
    the cover is 25 of 256 cells; at 100 TB that ratio is the scan."""
    root, b = _zorder_root(spark, sf_dir)
    cover = _z_cover(b)
    day = F.expr(_DAY_SPARK)
    return (
        spark.read.parquet(root)
        .filter(F.col("z").isin(cover))
        .filter(
            F.col("user_id").between(b["u1"], b["u2"])
            & day.between(b["d1"], b["d2"])
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"),
        )
        .orderBy("event_type")
    )


ORACLE_ZORDER_SCAN = f"""
WITH b AS (
  SELECT min(user_id) AS mu, max(user_id) AS xu,
         min({_DAY_DUCK}) AS md, max({_DAY_DUCK}) AS xd
  FROM events
), r AS (
  SELECT mu + (xu - mu + 1) // 4 AS u1, mu + (xu - mu + 1) // 2 AS u2,
         md + (xd - md + 1) // 4 AS d1, md + (xd - md + 1) // 2 AS d2
  FROM b
)
SELECT event_type, count(*) AS n_events,
       SUM(CAST(round(value * 100) AS BIGINT)) AS cents
FROM events, r
WHERE user_id BETWEEN u1 AND u2
  AND {_DAY_DUCK} BETWEEN d1 AND d2
GROUP BY event_type ORDER BY event_type
"""


def zorder_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cell function itself, hash-checked: rows per z cell, the
    interleave computed in SQL on BOTH engines — any disagreement in
    the binning or bit arithmetic mismatches here before it can
    silently mis-place rows in the layout."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    b = _bounds(spark, sf_dir)
    ub = _bin_expr("user_id", b["mu"], b["xu"], "DIV")
    db = _bin_expr(f"({_DAY_SPARK})", b["md"], b["xd"], "DIV")
    z = _interleave_expr(ub, db, "DIV")
    return (
        ev.groupBy(F.expr(z).cast("int").alias("z"))
        .agg(F.count("*").alias("n_rows"))
        .orderBy("z")
    )


def _oracle_cell_histogram() -> str:
    ub = _bin_expr("user_id", "(SELECT min(user_id) FROM events)",
                   "(SELECT max(user_id) FROM events)", "//")
    db = _bin_expr(f"({_DAY_DUCK})", f"(SELECT min({_DAY_DUCK}) FROM events)",
                   f"(SELECT max({_DAY_DUCK}) FROM events)", "//")
    z = _interleave_expr(ub, db, "//")
    return f"""
SELECT CAST({z} AS INT) AS z, count(*) AS n_rows
FROM events GROUP BY 1 ORDER BY z
"""


@artifact
def _cell_catalog_root(spark: SparkSession) -> str:
    """The cell CATALOG — one row per z cell with its bucket
    coordinates (z, ub, db). Universe-sized (256 rows), written once
    per session: the dimension table a runtime-pruned query joins
    instead of carrying a literal IN list."""
    root = tempfile.mkdtemp(prefix="grebi_zcatalog_")
    spark.createDataFrame(
        [
            (_interleave_py(ub, db), ub, db)
            for ub in range(_N_BINS)
            for db in range(_N_BINS)
        ],
        "z int, ub int, db int",
    ).coalesce(1).write.mode("overwrite").parquet(root)
    return root


def zorder_dpp_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RUNTIME half of partition pruning: the same rectangle query,
    but the cover arrives as a JOINED dimension (the cell catalog
    filtered to the rectangle's bucket bounds) rather than a
    planning-time IN list — Catalyst inserts a dynamic-partition-pruning
    subquery (``dynamicpruningexpression`` in the scan's
    PartitionFilters, plan-gated) that prunes the fact scan from the
    broadcast dim at execution time. This is the mechanism that holds
    when the cover ISN'T knowable at planning time (the dim filter
    could be a parameter or another query's result); answer is
    hash-identical to the static-cover ``zorder_scan_prune``."""
    root, b = _zorder_root(spark, sf_dir)
    bu1, bu2, bd1, bd2 = _rect_bins(b)
    cat = spark.read.parquet(_cell_catalog_root(spark))
    dim = cat.filter(
        F.col("ub").between(bu1, bu2) & F.col("db").between(bd1, bd2)
    ).select("z")
    day = F.expr(_DAY_SPARK)
    return (
        spark.read.parquet(root)
        .join(dim, "z")
        .filter(
            F.col("user_id").between(b["u1"], b["u2"])
            & day.between(b["d1"], b["d2"])
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"),
        )
        .orderBy("event_type")
    )


def zorder_append_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAINTAINED layout: cluster three quarters of events into a
    fresh z-layout, fold the remaining quarter in with
    ``zorder_append`` — binned by the layout's RECORDED rule, partition
    appends only — then answer the standard rectangle query from the
    appended layout. The cover is computed under the layout's recorded
    bounds (which differ from the full table's: the base slice fixed
    them); exact residual predicates keep the answer precise, so the
    result hash-matches the SAME full-scan oracle as
    ``zorder_scan_prune`` — appending must change what is read, never
    the answer."""
    root, bins = _append_layout(spark, sf_dir)
    b = _bounds(spark, sf_dir)  # the rect comes from the FULL table
    cover = _z_cover(b, bins)
    day = F.expr(_DAY_SPARK)
    return (
        spark.read.parquet(root)
        .filter(F.col("z").isin(cover))
        .filter(
            F.col("user_id").between(b["u1"], b["u2"])
            & day.between(b["d1"], b["d2"])
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"),
        )
        .orderBy("event_type")
    )


@artifact
def _append_layout(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    root = tempfile.mkdtemp(prefix="grebi_zorder_append_")
    bins = _write_layout(spark, ev.filter(F.col("event_id") % 4 != 3), root)
    zorder_append(spark, root, ev.filter(F.col("event_id") % 4 == 3))
    # cache the bins WITH the root: _layout_meta is immutable, and
    # re-reading a 1-row parquet per timed call is a wasted job
    return root, bins


# --- manifest-based file skipping (min/max statistics pruning) ---------------

_CENTS = "CAST(round(value * 100) AS BIGINT)"
_MANIFEST_FILES = 16


@artifact
def _manifest_root(spark: SparkSession, sf_dir: str) -> tuple[str, list]:
    """The OTHER half of the data-skipping story: file-level MIN/MAX
    statistics on an ordinary (un-partitioned) column — what
    Iceberg/Delta manifests and parquet footers provide. One-time
    layout: range-cluster events by the cents value into ~16 files
    (sort-based clustering makes the per-file ranges disjoint, hence
    the stats selective); one stats-collection scan builds the manifest
    (file → min/max cents, row count). The manifest is file-count-sized
    — the bounded planning metadata a 100 TB table keeps in its
    catalog, NOT data-sized."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    root = tempfile.mkdtemp(prefix="grebi_manifest_")
    (
        ev.withColumn("cents", F.expr(_CENTS))
        .repartitionByRange(_MANIFEST_FILES, F.col("cents"))
        .write.mode("overwrite")
        .parquet(root)
    )
    manifest = (
        spark.read.parquet(root)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.count("*").alias("n_rows"),
        )
        .collect()
    )
    # the layout is immutable once written, so the manifest is cached
    # WITH it — re-collecting stats per query would be a full scan that
    # defeats the pruning being demonstrated
    return root, manifest


def manifest_files_for(manifest: list, lo: int, hi: int) -> list[str]:
    """Planning-time file selection: every file whose [min,max] range
    intersects the predicate interval. O(files), data never touched."""
    return [
        r["file"]
        for r in manifest
        if not (r["max_cents"] < lo or r["min_cents"] > hi)
    ]


def manifest_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-pruned scan: answer a cents-range query by consulting the
    manifest FIRST — only files whose min/max interval intersects the
    predicate are handed to the reader (an explicit file list; the
    suite asserts a strict subset) — then exact residual predicates.
    Must hash-match the plain full-scan SQL. Together with
    ``zorder_scan_prune`` this is both halves of engine-side data
    skipping: partition pruning where the layout has a key, stats
    pruning where it only has sort order."""
    root, manifest = _manifest_root(spark, sf_dir)
    b = _cents_rect(spark, sf_dir)
    files = manifest_files_for(manifest, b["c1"], b["c2"])
    if not files:
        # a predicate interval disjoint from every file's [min,max]
        # (impossible for the built-in derived rectangle, reachable by
        # any other caller): spark.read.parquet() with zero paths throws
        # a confusing error — the pruned answer is simply empty
        schema = "event_type string, n_events bigint, cents_total bigint"
        return spark.createDataFrame([], schema)
    return (
        spark.read.parquet(*files)
        .filter(F.col("cents").between(b["c1"], b["c2"]))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("cents_total"),
        )
        .orderBy("event_type")
    )


@artifact
def _cents_rect(spark: SparkSession, sf_dir: str) -> dict:
    """Deterministic query interval: the second quarter of the cents
    span — same convention as the z-order rectangle; two scalars,
    computed once per (session, sf_dir)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    row = ev.select(
        F.expr(f"min({_CENTS})").alias("mc"),
        F.expr(f"max({_CENTS})").alias("xc"),
    ).collect()[0]
    mc, xc = int(row["mc"]), int(row["xc"])
    span = xc - mc + 1
    return {"c1": mc + span // 4, "c2": mc + span // 2}


ORACLE_MANIFEST_SCAN = """
WITH b AS (
  SELECT min(CAST(round(value * 100) AS BIGINT)) AS mc,
         max(CAST(round(value * 100) AS BIGINT)) AS xc
  FROM events
), r AS (
  SELECT mc + (xc - mc + 1) // 4 AS c1, mc + (xc - mc + 1) // 2 AS c2 FROM b
)
SELECT event_type, count(*) AS n_events,
       SUM(CAST(round(value * 100) AS BIGINT)) AS cents_total
FROM events, r
WHERE CAST(round(value * 100) AS BIGINT) BETWEEN c1 AND c2
GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "zorder_scan_prune": zorder_scan_prune,
    "zorder_dpp_scan": zorder_dpp_scan,
    "zorder_append_scan": zorder_append_scan,
    "zorder_cell_histogram": zorder_cell_histogram,
    "manifest_skip_scan": manifest_skip_scan,
}

ORACLES = {
    "zorder_scan_prune": ORACLE_ZORDER_SCAN,
    "zorder_dpp_scan": ORACLE_ZORDER_SCAN,
    "zorder_append_scan": ORACLE_ZORDER_SCAN,
    "zorder_cell_histogram": _oracle_cell_histogram(),
    "manifest_skip_scan": ORACLE_MANIFEST_SCAN,
}
