"""Bucketed record stores: co-located joins without shuffles.

The dedup/merge/enrichment families all join or aggregate the records
table on one stable key (the record id, the dedup key, the host id). On
a plain parquet table every such join shuffles the full corpus — at
100 TB that shuffle IS the job. Spark's answer is bucketing
(`bucketBy` + `sortBy` at write time): the table is pre-partitioned by
``hash(key) % n_buckets`` on disk, the bucket spec is recorded in the
catalog, and any join/aggregation keyed on the bucket column reads each
bucket as an already-partitioned (and already-sorted) input — Catalyst
drops BOTH sides' Exchange (and the Sort, when sortBy matches) from a
sort-merge join. Pay the partitioning once at ingest, reuse it across
every downstream stage and every daily run.

This module wraps that with the engine's conventions:

- ``write_bucketed`` — save a DataFrame as a bucketed+sorted catalog
  table (saveAsTable is REQUIRED: a plain .parquet() path write cannot
  record the bucket spec, which lives in the table catalog).
- ``read_bucketed`` — read it back with the bucket metadata live. Two
  tables join shuffle-free only on the same key and the same count;
  mismatched counts silently re-introduce the exchange.

Sizing: n_buckets ≈ corpus_size / target_partition_size (128-512 MB);
at 100 TB and 256 MB targets that is ~400k buckets — set it at ingest
and keep every co-keyed table on the SAME count (the reference point is
one bucket column per store: the record id for record stores, the
dedup key for key indexes).

Cf. the reference's MongoDB/MySQL stores, which index the same columns
(`Database/AbstractDatabase.php` record/dedup collections) — an index
answers point lookups, a bucket spec answers the corpus-scale joins.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

# sidecar recording the bucket spec INSIDE the table location, so a
# process restart (per-session in-memory catalog) can re-register the
# table with the exact spec it was written with instead of trusting a
# user-passed count (a wrong count silently mis-buckets every probe —
# r11 ADVICE, medium). Underscore prefix: parquet scans ignore it.
_SPEC_FILE = "_rm_bucket_spec.json"


def hadoop_fs(spark: SparkSession, uri: str):
    """(FileSystem, Path) for any Spark-visible URI — local, HDFS, or
    object store; the same resolution every Spark write uses. Shared
    with cli's location helpers (single copy of the jvm dance)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(uri)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def write_bucket_spec(
    spark: SparkSession, location: str, key: str, n_buckets: int
) -> None:
    """Persist {key, n_buckets} as ``_rm_bucket_spec.json`` inside the
    table location (any Spark-visible filesystem)."""
    fs, path = hadoop_fs(
        spark, location.rstrip("/") + "/" + _SPEC_FILE
    )
    out = fs.create(path, True)
    try:
        out.write(bytearray(json.dumps(
            {"key": key, "n_buckets": n_buckets}
        ).encode("utf-8")))
    finally:
        out.close()


def read_bucket_spec(spark: SparkSession, location: str) -> dict | None:
    """The persisted bucket spec of a table location, or None when the
    sidecar is absent (pre-r12 index or never bucketed)."""
    fs, path = hadoop_fs(
        spark, location.rstrip("/") + "/" + _SPEC_FILE
    )
    if not fs.exists(path):
        return None
    jvm = spark._jvm
    try:
        stream = fs.open(path)
        try:
            buf = jvm.java.io.ByteArrayOutputStream()
            jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                stream, buf, 4096, False
            )
            raw = bytes(buf.toByteArray()).decode("utf-8", errors="replace")
        finally:
            stream.close()
    except Py4JJavaError:
        # unreadable sidecar (e.g. checksum mismatch after a partial
        # write): same contract as malformed below — treat as absent
        return None
    # A process can die between fs.create(path, True) (which truncates)
    # and the write, leaving an empty/partial sidecar. That must read as
    # "no spec" — not crash every later recovery/append — so anything
    # that isn't a {key: str, n_buckets: int-able} dict is absent.
    try:
        spec = json.loads(raw)
        if not isinstance(spec, dict):
            return None
        int(spec["n_buckets"])
        if not spec.get("key"):
            return None
        return spec
    except (ValueError, KeyError, TypeError):
        return None


def _catalog_location(spark: SparkSession, table: str) -> str | None:
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if r.col_name == "Location":
            return r.data_type
    return None


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    mode: str = "overwrite",
) -> None:
    """Save ``df`` as a bucketed, sorted catalog table.

    Each bucket file is sorted by the key so downstream sort-merge joins
    skip their Sort as well as their Exchange. The spec is also persisted
    as a sidecar in the table location so a later process can recover it
    without guessing; appending with a spec that differs from the sidecar
    raises (the mismatch would silently re-shuffle or mis-bucket every
    probe)."""
    spark = df.sparkSession
    if mode == "append":
        loc = (
            _catalog_location(spark, table)
            if spark.catalog.tableExists(table)
            else None
        )
        if loc is not None:
            prior = read_bucket_spec(spark, loc)
            if prior is not None and (
                prior.get("key") != key
                or int(prior.get("n_buckets", -1)) != n_buckets
            ):
                raise ValueError(
                    f"bucket spec mismatch appending to {table}: "
                    f"written with {prior}, append requested "
                    f"key={key!r} n_buckets={n_buckets}"
                )
    (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )
    loc = _catalog_location(spark, table)
    if loc:
        write_bucket_spec(spark, loc, key, n_buckets)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table WITH its bucket metadata (spark.table, not
    spark.read.parquet(path) — a path read loses the bucket spec and
    with it the shuffle elimination)."""
    return spark.table(table)
