"""Table IO — the north rule's "Iceberg tables of Common-Crawl-style web
pages", with a parquet twin for environments without the Iceberg runtime.

Reading and writing are format-symmetric: every operator consumes plain
DataFrames, so the storage layer is exactly two functions. ``format=
"auto"`` uses Iceberg when the session has an Iceberg catalog configured
(spark.sql.catalog.* + iceberg-spark-runtime on the classpath) and falls
back to parquet otherwise — THIS sandbox ships no iceberg-spark-runtime
jar, so here the Iceberg branch is exercised only up to its clearly
reported error (tested).

Scale layout: tile outputs partition by zoom so planet-pyramid writes
prune on z at read time; Iceberg additionally gives snapshot isolation +
hidden partitioning.
"""

from __future__ import annotations

import os
import re
import warnings

from pyspark.sql import DataFrame, SparkSession

# ``fmt="auto"`` routing: a DOTTED catalog identifier (catalog.db.table)
# that is not an existing filesystem path and carries no data-file
# extension reads as an Iceberg table name; everything else — including a
# bare relative parquet directory like "tiles_out" — is a parquet path.
_ICEBERG_IDENT = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)+\Z")
_DATA_FILE_EXTS = (".parquet", ".pq", ".orc", ".json", ".csv")


def _looks_like_iceberg(s: str, reading: bool = False) -> bool:
    if "/" in s or "\\" in s or "://" in s:
        return False
    if any(s.lower().endswith(e) for e in _DATA_FILE_EXTS):
        return False
    if os.path.exists(s):
        # a dotted catalog identifier shadowed by a same-named local
        # directory is genuinely ambiguous — and the winner depends on
        # driver CWD state; route to the path but say so loudly
        if _ICEBERG_IDENT.match(s) is not None:
            warnings.warn(
                f"table IO fmt='auto': {s!r} looks like an Iceberg "
                "catalog identifier but a same-named local path exists; "
                "routing to the PATH (parquet). Pass fmt='iceberg' or "
                "fmt='parquet' to disambiguate.", stacklevel=3)
        return False
    if _ICEBERG_IDENT.match(s) is None:
        # bare single-segment name, no such path: on READ, parquet will
        # fail with path-not-found — if an Iceberg table (current-catalog
        # resolution needs no dot) was meant, say how to get it. On WRITE
        # a fresh directory name is the normal create case: stay quiet.
        if reading and re.fullmatch(r"[A-Za-z_]\w*", s):
            warnings.warn(
                f"table IO fmt='auto': single-segment name {s!r} routes "
                "to parquet (no such path exists). For an Iceberg table "
                "in the session's current catalog pass fmt='iceberg'.",
                stacklevel=3)
        return False
    return True


def _has_iceberg(spark: SparkSession) -> bool:
    name = "org.apache.iceberg.spark.SparkCatalog"
    try:
        # Spark's own loader sees --jars / spark.jars.packages additions;
        # plain java.lang.Class.forName consults only the system classpath
        # and false-negatives on a correctly configured session, while
        # bare py4j package access resolves lazily and false-positives
        spark._jvm.org.apache.spark.util.Utils.classForName(
            name, True, False)
        return True
    except Exception:
        try:
            spark._jvm.java.lang.Class.forName(name)
            return True
        except Exception:
            return False


def _require_iceberg(spark: SparkSession) -> None:
    if not _has_iceberg(spark):
        raise RuntimeError(
            "iceberg-spark-runtime is not on this session's classpath; "
            "add the runtime jar + a spark.sql.catalog.* config, or "
            "pass a parquet path (fmt='parquet')")


def _iceberg_write(df: DataFrame, target: str, mode: str) -> None:
    """writeTo with the table's own partition spec: append | overwrite
    (createOrReplace) | error (create — fails if the table exists, like
    parquet's ErrorIfExists)."""
    _require_iceberg(df.sparkSession)
    w = df.writeTo(target)
    if mode == "append":
        w.append()
    elif mode == "overwrite":
        w.createOrReplace()
    elif mode in ("error", "errorifexists"):
        w.create()
    else:
        raise ValueError(f"unsupported Iceberg write mode {mode!r}")


def read_pages(spark: SparkSession, source: str,
               fmt: str = "auto") -> DataFrame:
    """pages table (url, warc_ts, html, text, lang) from an Iceberg table
    name or a parquet path. ``auto`` treats only dotted catalog.table
    identifiers as Iceberg (see _looks_like_iceberg) — a bare relative
    parquet directory routes to parquet."""
    if fmt == "iceberg" or (fmt == "auto"
                            and _looks_like_iceberg(source, reading=True)):
        _require_iceberg(spark)
        return spark.read.format("iceberg").load(source)
    return spark.read.parquet(source)


def write_tiles(df: DataFrame, target: str, fmt: str = "auto",
                mode: str = "append") -> None:
    """(z, x, y, tile) sink. Parquet partitions by z (directory pruning);
    Iceberg writes via writeTo with the table's own partition spec.
    ``mode``: append | overwrite (Iceberg: createOrReplace) | error
    (Iceberg: create — fails if the table exists, like parquet's
    ErrorIfExists)."""
    if fmt == "iceberg" or (fmt == "auto" and _looks_like_iceberg(target)):
        _iceberg_write(df, target, mode)
    else:
        df.write.mode(mode).partitionBy("z").parquet(target)


def write_features(df: DataFrame, target: str, fmt: str = "auto",
                   mode: str = "append") -> None:
    """FEATURES_SCHEMA sink partitioned by source zoom. Composite with
    declared ``src_zooms`` filters ``src_z IN (zooms)`` — over a src_z-
    partitioned table the scan prunes to the declared zooms' files (the
    same pruning contract ``write_tiles`` gives the z-partitioned tile
    log; plan-tested)."""
    if fmt == "iceberg" or (fmt == "auto" and _looks_like_iceberg(target)):
        _iceberg_write(df, target, mode)
    else:
        df.write.mode(mode).partitionBy("src_z").parquet(target)


def read_features(spark: SparkSession, source: str,
                  fmt: str = "auto") -> DataFrame:
    """FEATURES_SCHEMA scan (src_z partition column restored to int —
    parquet partition discovery reads it back as the directory's inferred
    type)."""
    if fmt == "iceberg" or (fmt == "auto"
                            and _looks_like_iceberg(source, reading=True)):
        _require_iceberg(spark)
        return spark.read.format("iceberg").load(source)
    from pyspark.sql import functions as F
    return spark.read.parquet(source) \
        .withColumn("src_z", F.col("src_z").cast("int"))


def write_tiles_zordered(df: DataFrame, path: str, mode: str = "append",
                         partitions: int | None = None) -> None:
    """(z, x, y, ...) sink CLUSTERED in Morton/Z-order: adds
    ``zkey = morton(x, y)`` (tilemath.morton_col — bit-interleaved, so
    nearby tiles get nearby keys and any quadtree subtree is ONE
    contiguous key range), range-partitions by (z, zkey) and sorts
    inside each file. Parquet then carries tight min/max zkey stats per
    file and row group, so a spatial range read (``read_tiles_zrange``)
    prunes to the files the subtree actually touches — the storage-
    layout complement to ``write_tiles``'s per-zoom directory pruning
    (which cannot help WITHIN a hot zoom: z14 is one directory of
    everything). 100-TB shape: the range partitioner samples keys, so
    dense regions split across many files while empty ocean collapses —
    the layout auto-balances with the data's own skew."""
    from .. import tilemath as TM

    keyed = df.withColumn("zkey", TM.morton_col("x", "y"))
    if partitions is not None:
        keyed = keyed.repartitionByRange(partitions, "z", "zkey")
    else:
        keyed = keyed.repartitionByRange("z", "zkey")
    (keyed.sortWithinPartitions("z", "zkey")
     .write.mode(mode).parquet(path))


def read_tiles_zrange(spark: SparkSession, path: str, z: int, x: int,
                      y: int, data_z: int) -> DataFrame:
    """Spatial range read over a z-ordered tile table: all rows at zoom
    ``data_z`` inside tile (z, x, y) — one BETWEEN on the stored zkey
    (the subtree is contiguous by the Morton ancestor-prefix property),
    pushed to the parquet scan where the z-ordered layout's min/max
    stats skip non-intersecting files and row groups."""
    from pyspark.sql import functions as F

    from .. import tilemath as TM

    lo, hi = TM.tile_zrange(z, x, y, data_z)
    return (spark.read.parquet(path)
            .filter((F.col("z") == data_z)
                    & F.col("zkey").between(lo, hi)))
