"""W3: object-store sink — the reference's R2/S3 uploader re-expressed
for Spark (ref: storage/r2_uploader.py:24-183).

The reference uploads one file at a time through boto3. On a Spark
cluster the same capability splits into:

- PURE COLUMN LOGIC (portable, oracle-checkable): content-type by
  extension (ref :160-170), object-key generation/normalization
  (ref :172-183), public-URL synthesis (ref :60-87). These are
  Catalyst expressions here, applied to millions of manifest rows per
  second inside whole-stage codegen.
- CLUSTER IO: writes go through Hadoop's FileSystem abstraction, which
  serves local paths and ``s3a://`` buckets identically —
  :func:`s3a_conf` builds the session conf that points s3a at an
  R2/S3-compatible endpoint (the boto3 ``endpoint_url``/credentials
  handshake of ref :36-53), and :func:`exists`/:func:`delete`/
  :func:`list_keys` are the head/delete/list surface (ref :110-158)
  over that same FileSystem, so they work unchanged against a mounted
  bucket. Post-upload verification (ref :86-87) = write → ``exists``.

No network IO happens in this module at test time: everything is
exercised against the local FileSystem implementation, which shares
the code path s3a uses.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

# ref r2_uploader.py:160-170 — keyed by lowercased LAST extension of the
# final path component (Path.suffix semantics).
CONTENT_TYPES = {
    ".pdf": "application/pdf",
    ".xlsx": "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
    ".xls": "application/vnd.ms-excel",
    ".csv": "text/csv",
    ".json": "application/json",
}
DEFAULT_CONTENT_TYPE = "application/octet-stream"


def content_type_for(path: Column) -> Column:
    """Content type by file extension (ref :160-170).

    ``Path(path).suffix.lower()`` = the last ``.ext`` of the final
    component ('a.pdf.xlsx' → '.xlsx'; no dot → default).
    """
    last_seg = F.element_at(F.split(path, r"[/\\]"), -1)
    ext = F.lower(F.regexp_extract(last_seg, r"(\.[^.]+)$", 1))
    out = F.lit(DEFAULT_CONTENT_TYPE)
    expr = None
    for suffix, ctype in CONTENT_TYPES.items():
        branch = F.when(ext == suffix, F.lit(ctype))
        expr = branch if expr is None else expr.when(ext == suffix, F.lit(ctype))
    return expr.otherwise(out)


def object_key(product_type: Column, relative_path: Column) -> Column:
    """Object key ``{product_type}/{relative_path}`` normalized
    (ref generate_r2_key :172-183): backslashes → forward slashes, all
    leading slashes stripped."""
    joined = F.concat_ws("/", product_type, relative_path)
    return F.regexp_replace(F.regexp_replace(joined, r"\\", "/"), r"^/+", "")


def public_url(base_url: str, key: Column) -> Column:
    """Public URL ``{base}/{key}`` with a slash-trimmed base (ref :60-62,:87)."""
    return F.concat(F.lit(base_url.rstrip("/")), F.lit("/"), key)


def s3a_conf(
    endpoint: str,
    access_key: str,
    secret_key: str,
    path_style: bool = True,
) -> dict[str, str]:
    """Spark/Hadoop conf that points ``s3a://`` at an S3-compatible
    endpoint — the cluster-side equivalent of the reference's boto3
    client config (ref :36-53). Apply with
    ``for k, v in s3a_conf(...).items(): spark.conf.set(k, v)``."""
    return {
        "spark.hadoop.fs.s3a.endpoint": endpoint,
        "spark.hadoop.fs.s3a.access.key": access_key,
        "spark.hadoop.fs.s3a.secret.key": secret_key,
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
        "spark.hadoop.fs.s3a.connection.ssl.enabled": "true",
        # Object stores have no real directories; committers matter.
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.sql.sources.commitProtocolClass":
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
    }


# ---------------------------------------------------------------------------
# FileSystem surface: exists / delete / list (ref :110-158). Hadoop's
# FileSystem API is the portability seam — identical code against
# file://, hdfs:// and s3a://.
# ---------------------------------------------------------------------------


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jpath, jvm


def exists(spark: SparkSession, path: str) -> bool:
    """head_object equivalent (ref file_exists :110-124)."""
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.exists(jpath))


def delete(spark: SparkSession, path: str) -> bool:
    """delete_object equivalent (ref delete_file :126-138); False on miss."""
    fs, jpath, _ = _fs(spark, path)
    if not fs.exists(jpath):
        return False
    return bool(fs.delete(jpath, False))


def list_keys(spark: SparkSession, prefix_dir: str) -> list[str]:
    """list_objects_v2 equivalent (ref list_files :140-158): recursive
    file listing under a prefix, lexicographically sorted."""
    fs, jpath, _ = _fs(spark, prefix_dir)
    if not fs.exists(jpath):
        return []
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        out.append(it.next().getPath().toString())
    return sorted(out)


def upload_files(
    files_df,
    dest_root: str,
    *,
    path_col: str = "local_file_path",
    key_col: str = "object_key",
    delete_local: bool = False,
):
    """Per-file upload with verify — and the reference's R2-ONLY storage
    mode (ref cli.py:210-212: upload, verify, then DELETE the local
    copy so only the object store retains the blob).

    Input: a manifest relation with a local path column and an object
    key column. Each partition copies its files to ``dest_root/{key}``,
    verifies by size round-trip, and (``delete_local=True``) removes the
    source only AFTER the verify passes — a failed verify keeps the
    local copy, mirroring the reference's keep-on-failure semantics.
    Returns a status relation ``(object_key, uploaded, verified,
    local_deleted, error)``.

    Runs as ``mapInPandas`` so upload bandwidth scales with executors,
    never serializing blobs through the driver. Plain/``file://`` paths
    go through ``shutil`` here; an ``s3a://``/``s3://`` dest_root would
    swap in a per-partition S3 client with the same body — the seam is
    the partition function, not the plan.
    """
    import pandas as pd

    if dest_root.startswith(("s3a://", "s3://", "hdfs://")):
        raise NotImplementedError(
            "remote dest_root needs a per-partition object client; "
            "only local/file:// destinations are wired in this container"
        )
    root = dest_root[len("file://"):] if dest_root.startswith("file://") else dest_root

    schema = (
        "object_key string, uploaded boolean, verified boolean, "
        "local_deleted boolean, error string"
    )

    def run(batches):
        import os
        import shutil

        for pdf in batches:
            out = []
            for src, key in zip(pdf[path_col], pdf[key_col]):
                row = {
                    "object_key": key, "uploaded": False,
                    "verified": False, "local_deleted": False, "error": None,
                }
                try:
                    dest = os.path.join(root, key)
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    shutil.copyfile(src, dest)
                    row["uploaded"] = True
                    row["verified"] = os.path.getsize(dest) == os.path.getsize(src)
                    if delete_local and row["verified"]:
                        os.remove(src)
                        row["local_deleted"] = True
                except Exception as ex:  # error row, never task failure
                    row["error"] = str(ex)
                out.append(row)
            yield pd.DataFrame(
                out,
                columns=["object_key", "uploaded", "verified", "local_deleted", "error"],
            )

    return files_df.select(path_col, key_col).mapInPandas(run, schema=schema)
