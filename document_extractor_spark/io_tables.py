"""Table I/O with an Iceberg fast path and a parquet fallback.

The north rule targets Iceberg tables (`pages`, `extracted`, the
metrics table) with snapshot-checkpoint resume. This sandbox has no
Iceberg runtime jar, so the engine is written against this seam:

- On a cluster with a configured Iceberg catalog
  (``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog``),
  writes go through ``df.writeTo("<catalog>.<table>").append()`` —
  atomic snapshot commits, which is what makes the resume protocol
  exactly-once there (a crash mid-append leaves no partial rows, so
  the manifest in checkpoint.py degenerates to reading the last
  snapshot id).
- In the sandbox (no catalog), writes are parquet appends under a
  directory root, and checkpoint.py's manifest-commit-last protocol
  provides the same idempotency the snapshot would.

Only the backend seam lives here; all plan-building code is
backend-agnostic DataFrames.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ICEBERG_CATALOG_IMPLS = (
    "org.apache.iceberg.spark.SparkCatalog",
    "org.apache.iceberg.spark.SparkSessionCatalog",
)
# catalog= default of the table ops: look the backend up per call
LOOKUP = object()


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of the first configured Iceberg catalog, or None.

    Reads ``SET`` output rather than SparkContext's frozen conf so
    catalogs registered either at spark-submit time (--conf) or at
    runtime (spark.conf.set) are both seen. Each call is a SQL command
    round trip (tens of ms): a caller issuing several table ops in a
    row resolves it once and passes ``catalog=`` to each.
    """
    prefix = "spark.sql.catalog."
    for row in spark.sql("SET").collect():
        key, value = row[0], row[1]
        if (key.startswith(prefix) and key.count(".") == 3
                and value in ICEBERG_CATALOG_IMPLS):
            return key[len(prefix):]
    return None


def _local_root(root: str) -> str:
    """OS path for a driver-local root: the maintenance ops accept
    `file:`-scheme URIs (Spark's canonical local form) but run
    os.walk/os.rename, which need the plain path — operating on the
    raw URI string would silently scan nothing and then crash the
    swap mid-way."""
    if root.startswith("file:"):
        from urllib.parse import urlparse
        parsed = urlparse(root)
        # 'file://host/path' silently became the RELATIVE path
        # 'host/path' under naive prefix-stripping, pointing
        # recover/compact at a wrong local directory — reject any
        # authority this process can't serve instead of guessing
        if parsed.netloc not in ("", "localhost"):
            raise ValueError(
                f"file: URI with non-local authority "
                f"{parsed.netloc!r} is not a driver-local path: "
                f"{root}")
        return parsed.path or "/"
    return root


def write_table(df: DataFrame, name: str, root: str,
                mode: str = "append", catalog=LOOKUP) -> str:
    """Write `df` as table `name`; returns the identifier written.

    Iceberg: ``<catalog>.<name>`` via writeTo (snapshot commit).
    Parquet: ``<root>/<name>`` directory (append/overwrite files).
    ``catalog``: an already-resolved :func:`iceberg_catalog` result
    (None = parquet); looked up from the session when omitted.
    """
    cat = iceberg_catalog(df.sparkSession) if catalog is LOOKUP else catalog
    if cat:
        ident = f"{cat}.{name}"
        writer = df.writeTo(ident)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            # append() requires an existing table; bootstrap via an
            # existence CHECK, never by retrying a failed append — an
            # append can raise AFTER its snapshot committed (driver
            # timeout on the response), and a blind re-append would
            # double-commit the batch. Racing creators: one create()
            # wins, the loser falls through to a single append.
            if not df.sparkSession.catalog.tableExists(ident):
                try:
                    writer.create()
                    return ident
                except Exception:
                    pass  # another writer created it first
            writer.append()
        return ident
    path = f"{root}/{name}"
    # heal an interrupted compaction swap BEFORE appending: creating
    # the live dir fresh here would orphan a stranded original (see
    # recover_table)
    recover_table(name, root)
    df.write.mode(mode).parquet(path)
    return path


def read_table(spark: SparkSession, name: str, root: str,
               catalog=LOOKUP, schema: str | None = None) -> DataFrame:
    """Read table `name` (``catalog`` as in :func:`write_table`).
    ``schema`` pins a parquet read's schema, so no footer-inference
    job runs; the Iceberg table carries its own."""
    cat = iceberg_catalog(spark) if catalog is LOOKUP else catalog
    if cat:
        return spark.read.table(f"{cat}.{name}")
    reader = spark.read.schema(schema) if schema else spark.read
    return reader.parquet(f"{root}/{name}")


def recover_table(name: str, root: str) -> None:
    """Finish or roll back an interrupted compaction swap for
    `root/name` (parquet backend, local fs; no-op otherwise).

    Invariants: the ``__compact_tmp`` / ``__compact_old`` siblings
    are deleted ONLY while the live table directory exists AND holds
    everything they do; if the live dir is missing, whichever
    sibling survives IS the table and is renamed back into place.

    Called by both :func:`compact_table` (recovery-first) and
    :func:`write_table`'s parquet append — a crash mid-swap must be
    healed BEFORE any writer recreates the live directory, or the
    recreated dir would make the stranded original look stale and a
    later cleanup would delete the only copy of the pre-crash rows.
    """
    import os
    import shutil

    if "://" in root and not root.startswith("file:"):
        return
    root = _local_root(root)
    path = f"{root}/{name}"
    tmp = f"{root}/{name}.__compact_tmp"
    old = f"{root}/{name}.__compact_old"
    if not os.path.exists(path):
        if os.path.exists(old):
            # crashed between the two renames: the original is in
            # `old`; restore it (the tmp copy, complete or not, is
            # redundant once the original is back)
            os.rename(old, path)
            shutil.rmtree(tmp, ignore_errors=True)
        elif os.path.exists(tmp):
            # old already promoted/removed in a prior recovery but
            # the rename of tmp never happened — finish the swap
            os.rename(tmp, path)
    else:
        for stale in (tmp, old):
            shutil.rmtree(stale, ignore_errors=True)


def compact_table(spark: SparkSession, name: str, root: str,
                  target_bytes: int = 128 * 1024 * 1024) -> dict:
    """Small-file compaction — the maintenance op a streaming-append
    table needs: each micro-batch/run appends a handful of files, and
    after a week a 10^12-row table is millions of KB-sized parquet
    files whose open/footer overhead dominates every scan.

    Iceberg: delegates to the engine's own
    ``rewrite_data_files`` procedure (snapshot-atomic, concurrent
    readers unaffected).

    Parquet fallback (EXCLUSIVE-WRITER maintenance window required —
    a plain parquet directory has no transaction log, so compaction
    must not race concurrent appends; Iceberg is the concurrent-safe
    path): read → repartition to ceil(bytes/target) → write to a
    sibling ``<name>.__compact_tmp`` directory → two-rename swap.
    Crash-safe at every point: recovery on the next call completes
    or rolls back an interrupted swap (it NEVER deletes the only
    surviving copy — a tmp/old dir is removed only while the live
    table directory exists). Readers can hit a brief not-found
    window between the two renames; retry or schedule compaction in
    the same exclusive window.

    Local-filesystem roots only (the swap uses os.rename); an
    hdfs://-or-s3:// root raises — use the Iceberg backend there.

    Returns {"files_before", "files_after", "bytes", "rows"}.
    """
    import math
    import os
    import shutil

    cat = iceberg_catalog(spark)
    if cat:
        spark.sql(
            f"CALL {cat}.system.rewrite_data_files("
            f"table => '{name}', "
            f"options => map('target-file-size-bytes', "
            f"'{int(target_bytes)}'))")
        return {"backend": "iceberg", "table": f"{cat}.{name}"}

    if "://" in root and not root.startswith("file:"):
        raise ValueError(
            "compact_table's parquet fallback needs a driver-local "
            f"root (got {root!r}); configure an Iceberg catalog for "
            "remote storage")

    local = _local_root(root)
    path = f"{local}/{name}"
    tmp = f"{local}/{name}.__compact_tmp"
    old = f"{local}/{name}.__compact_old"
    recover_table(name, root)

    def _scan(p):
        files = bytes_ = 0
        for d, _, fs in os.walk(p):
            for f in fs:
                if not f.startswith(("_", ".")):
                    files += 1
                    bytes_ += os.path.getsize(os.path.join(d, f))
        return files, bytes_

    files_before, total = _scan(path)
    df = spark.read.parquet(path)
    n_out = max(1, math.ceil(total / target_bytes))
    rows = df.count()
    df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    files_after, _ = _scan(path)
    return {"backend": "parquet", "files_before": files_before,
            "files_after": files_after, "bytes": total, "rows": rows}
