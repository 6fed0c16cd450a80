"""Bucketed co-located joins (SURVEY.md 100-TB notes: "co-locate joins
via bucketing").

Writing both fact tables bucketed by the join key lets Spark join them
with ZERO shuffle — each bucket pair joins locally. At 100 TB this is
the difference between re-shuffling terabytes per query and reading
pre-organized data; the write-side cost is paid once.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from lookup_transform_spark.sqltext import ddl, quote_ident, sql_string

#: Sidecar naming the layout a bucketed directory was WRITTEN with.
#: The catalog trusts whatever CLUSTERED BY spec an attach declares and
#: silently joins bucket i against bucket i — a re-attach under a
#: different bucket count/column drops matching rows with no error, so
#: the written spec must be recorded where every later session can
#: check it (r8 review).
_SPEC_FILE = "_BUCKET_SPEC.json"


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Persist as a bucketed table. Bucketed layout requires the table
    catalog (saveAsTable), not a bare path. Path-backed writes record a
    ``_BUCKET_SPEC.json`` sidecar so re-attachment can validate its
    declared layout."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)
    if path:
        spark = df.sparkSession
        _write_spec(spark, path, bucket_col, n_buckets)


def _write_spec(spark, path: str, bucket_col: str, n_buckets: int) -> None:
    # atomic publish (ADVICE r8): create under a dotted temp name and
    # rename into place, so a crash mid-write can never leave a
    # truncated sidecar that turns every later attach into a JSON error
    from lookup_transform_spark.hadoopfs import hadoop_fs

    fs, jp = hadoop_fs(spark, f"{path}/.{_SPEC_FILE}.tmp")
    out = fs.create(jp, True)
    out.write(bytearray(json.dumps(
        {"bucket_col": bucket_col, "n_buckets": n_buckets}
    ).encode()))
    out.close()
    _, jfinal = hadoop_fs(spark, f"{path}/{_SPEC_FILE}")
    if fs.exists(jfinal):
        fs.delete(jfinal, False)
    # Hadoop rename signals failure by RETURNING false, not raising —
    # swallowing it would publish no sidecar at all and silently leave
    # the directory on the unvalidated legacy path (r9 self-review)
    if not fs.rename(jp, jfinal):
        raise IOError(
            f"failed to publish {_SPEC_FILE} under {path}: rename "
            "returned false; the bucketed layout would be attachable "
            "without spec validation"
        )


def _warn_legacy(path: str, e: Exception) -> None:
    import warnings

    warnings.warn(
        f"unreadable {_SPEC_FILE} under {path} ({type(e).__name__}); "
        "treating the directory as a legacy layout without a recorded "
        "spec"
    )


def _read_spec(spark, path: str) -> dict | None:
    from lookup_transform_spark.hadoopfs import hadoop_fs

    fs, jp = hadoop_fs(spark, f"{path}/{_SPEC_FILE}")
    if not fs.exists(jp):
        return None
    try:
        stream = fs.open(jp)
        try:
            raw = spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        spec = json.loads(raw)
        return {"bucket_col": spec["bucket_col"],
                "n_buckets": spec["n_buckets"]}
    except (json.JSONDecodeError, KeyError, TypeError) as e:
        _warn_legacy(path, e)
        return None
    except Py4JJavaError as e:
        # Only CORRUPTION-class filesystem errors fall back (a
        # truncated sidecar surfaces as ChecksumException/EOFException
        # on checksumming filesystems). A transient read error
        # (throttling, network blip on s3a/hdfs) must RAISE: degrading
        # it to "legacy layout" would skip spec validation and re-open
        # the mismatched-attach silent row loss the sidecar exists to
        # prevent (r9 self-review). Corruption is detected by walking
        # the JVM cause chain's CLASS names, not just the flattened
        # message — a wrapper exception whose toString omits the inner
        # class (RemoteException re-throws, custom FS shims) would
        # otherwise misclassify genuine corruption as transient
        # (r10, ADVICE).
        corrupt = {"ChecksumException", "EOFException"}
        names: list[str] = []
        cause = getattr(e, "java_exception", None)
        depth = 0
        while cause is not None and depth < 16:
            try:
                names.append(cause.getClass().getSimpleName())
                cause = cause.getCause()
            except Exception:
                break
            depth += 1
        msg = str(e)
        if any(n in corrupt for n in names) or any(
            c in msg for c in corrupt
        ):
            _warn_legacy(path, e)
            return None
        raise


def ensure_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    path: str,
) -> None:
    """Idempotent bucketed materialization: write once, then re-register.

    Bucketing is an ingest-time LAYOUT decision — the write cost is paid
    once and amortized over every co-located join after. If the layout
    already exists on disk (``_SUCCESS`` marker, checked through the
    path's own Hadoop FileSystem — a driver-local os.path check reads
    every hdfs://s3a:// layout as absent and would re-fingerprint and
    OVERWRITE the standing corpus on every fresh session), a fresh
    session just re-attaches it to the catalog with external-table DDL
    (bucket metadata lives in the catalog, so a bare ``read.parquet``
    would lose the no-shuffle property).
    """
    from lookup_transform_spark.hadoopfs import fs_exists

    if spark.catalog.tableExists(table):
        return
    if fs_exists(spark, path + "/_SUCCESS"):
        # ensure's contract is "make THIS layout exist": a deliberate
        # re-tune (different bucket count/column than the on-disk spec)
        # falls through to a rewrite instead of dead-ending; the hard
        # mismatch error stays on direct attach_external_bucketed calls,
        # where the caller asserts the layout already matches (ADVICE r8)
        spec = _read_spec(spark, path)
        if spec is None or (
            spec["n_buckets"] == n_buckets
            and spec["bucket_col"] == bucket_col
        ):
            attach_external_bucketed(
                spark, table, path, bucket_col, n_buckets, df.schema
            )
            return
    write_bucketed(df, table, bucket_col, n_buckets, path=path)


def attach_external_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int,
    schema,
) -> None:
    """Register existing on-disk bucketed parquet as an external catalog
    table (bucket metadata lives in the catalog, so a bare
    ``read.parquet`` would lose the no-shuffle join property).

    The declared layout is VALIDATED against the directory's
    ``_BUCKET_SPEC.json`` (written by ``write_bucketed``): Spark trusts
    the catalog's CLUSTERED BY metadata and skips the shuffle, so
    attaching 16-bucket files as 8 buckets joins bucket i against
    bucket i under two different hash specs — rows whose keys land in
    different bucket ids under the two specs never meet, i.e. silent
    row loss, not an error (r8 review). A legacy directory without the
    sidecar is attached as declared (nothing to check against), same
    as before."""
    spec = _read_spec(spark, path)
    if spec is not None and (
        spec["n_buckets"] != n_buckets or spec["bucket_col"] != bucket_col
    ):
        raise ValueError(
            f"attach_external_bucketed: {path} was written CLUSTERED BY "
            f"({spec['bucket_col']}) INTO {spec['n_buckets']} BUCKETS, "
            f"but the attach declares ({bucket_col}) INTO {n_buckets}; "
            "a mismatched attach silently drops join rows — re-attach "
            "with the written spec or rewrite the layout"
        )
    cols = ", ".join(f"{quote_ident(f.name)} {ddl(f.dataType)}"
                     for f in schema.fields)
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING PARQUET "
        f"CLUSTERED BY ({quote_ident(bucket_col)}) INTO {n_buckets} BUCKETS "
        f"LOCATION {sql_string(path)}"
    )
