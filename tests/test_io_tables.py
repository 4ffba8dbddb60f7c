"""Backend seam: Iceberg catalog detection + parquet fallback I/O."""


def test_parquet_roundtrip(spark, tmp_path):
    from document_extractor_spark.io_tables import (
        iceberg_catalog, read_table, write_table,
    )

    assert iceberg_catalog(spark) is None  # sandbox: parquet backend
    df = spark.range(5).withColumnRenamed("id", "x")
    ident = write_table(df, "t1", str(tmp_path))
    assert ident == f"{tmp_path}/t1"
    got = read_table(spark, "t1", str(tmp_path))
    assert sorted(r.x for r in got.collect()) == [0, 1, 2, 3, 4]
    # append mode appends
    write_table(df, "t1", str(tmp_path))
    assert read_table(spark, "t1", str(tmp_path)).count() == 10
    # overwrite replaces
    write_table(df, "t1", str(tmp_path), mode="overwrite")
    assert read_table(spark, "t1", str(tmp_path)).count() == 5


def test_iceberg_catalog_detection(spark):
    from document_extractor_spark.io_tables import iceberg_catalog

    assert iceberg_catalog(spark) is None
    spark.conf.set("spark.sql.catalog.lake",
                   "org.apache.iceberg.spark.SparkCatalog")
    # sub-keys of the catalog must not be mistaken for catalogs
    spark.conf.set("spark.sql.catalog.lake.type", "hadoop")
    try:
        assert iceberg_catalog(spark) == "lake"
    finally:
        spark.conf.unset("spark.sql.catalog.lake")
        spark.conf.unset("spark.sql.catalog.lake.type")
    assert iceberg_catalog(spark) is None


def test_compact_table_merges_small_files(spark, tmp_path):
    from document_extractor_spark.io_tables import (
        compact_table, read_table, write_table)

    root = str(tmp_path)
    # simulate streaming appends: 12 tiny files
    for i in range(12):
        df = spark.createDataFrame([(i, f"doc {i}")],
                                   "doc_id long, text string")
        write_table(df.repartition(1), "t", root)
    before = read_table(spark, "t", root)
    rows_before = sorted((r.doc_id, r.text) for r in before.collect())

    stats = compact_table(spark, "t", root, target_bytes=64 * 1024 * 1024)
    assert stats["files_before"] >= 12
    assert stats["files_after"] == 1
    assert stats["rows"] == 12
    after = read_table(spark, "t", root)
    assert sorted((r.doc_id, r.text) for r in after.collect()) \
        == rows_before
    # no leftover tmp/old dirs
    import os
    assert set(os.listdir(root)) == {"t"}


def test_compact_table_cleans_stale_tmp(spark, tmp_path):
    import os

    from document_extractor_spark.io_tables import (
        compact_table, write_table)

    root = str(tmp_path)
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    write_table(df, "t", root)
    os.makedirs(f"{root}/t.__compact_tmp/junk")  # crashed prior run
    os.makedirs(f"{root}/t.__compact_old")
    stats = compact_table(spark, "t", root)
    assert stats["rows"] == 1
    assert set(os.listdir(root)) == {"t"}


def test_compact_recovery_completes_or_rolls_back(spark, tmp_path):
    """Crash-window recovery: with the live dir missing, whichever
    surviving copy exists is restored — never deleted."""
    import os
    import shutil

    from document_extractor_spark.io_tables import (
        compact_table, read_table, write_table)

    root = str(tmp_path)
    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(5)], "doc_id long, text string")
    write_table(df, "t", root)

    # simulate crash between rename(path->old) and rename(tmp->path):
    # original in old, half-written junk in tmp, live dir gone
    os.rename(f"{root}/t", f"{root}/t.__compact_old")
    os.makedirs(f"{root}/t.__compact_tmp")
    open(f"{root}/t.__compact_tmp/part-junk", "w").write("x")
    stats = compact_table(spark, "t", root)
    assert stats["rows"] == 5  # original restored, then compacted
    assert sorted(r.doc_id for r in
                  read_table(spark, "t", root).collect()) == list(range(5))
    assert set(os.listdir(root)) == {"t"}

    # simulate crash after old was cleared but before tmp promoted
    shutil.move(f"{root}/t", f"{root}/t.__compact_tmp")
    stats = compact_table(spark, "t", root)
    assert stats["rows"] == 5
    assert set(os.listdir(root)) == {"t"}


def test_compact_rejects_remote_root(spark):
    import pytest

    from document_extractor_spark.io_tables import compact_table

    with pytest.raises(ValueError, match="driver-local"):
        compact_table(spark, "t", "s3://bucket/tables")


def test_local_root_uri_forms():
    """file: URI handling: authority-bearing URIs must not collapse
    into RELATIVE paths ('file://host/p' is not 'host/p' in cwd)."""
    import pytest

    from document_extractor_spark.io_tables import _local_root

    assert _local_root("/plain/path") == "/plain/path"
    assert _local_root("file:/abs/path") == "/abs/path"
    assert _local_root("file:///abs/path") == "/abs/path"
    assert _local_root("file://localhost/abs/path") == "/abs/path"
    assert _local_root("file://") == "/"
    with pytest.raises(ValueError, match="authority"):
        _local_root("file://nas01/share/tables")


def test_cli_compact_flag(spark, tmp_path):
    """--compact end-to-end: committed tables come back single-file
    with the same rows, and the CLI still prints its summary."""
    import glob
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from document_extractor_spark.cli import main

    html = ("<html><body><main><article><p>Strong regional growth "
            "with stable revenue and rising public margins today."
            "</p></article></main></body></html>").encode()
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()),
        ("lang", pa.string())])
    ind = tmp_path / "in"
    ind.mkdir()
    rows = {"url": [f"doc://{i}" for i in range(6)],
            "warc_ts": [None] * 6, "html": [html] * 6,
            "text": [None] * 6, "lang": [None] * 6}
    pq.write_table(pa.Table.from_pydict(rows, schema=schema),
                   str(ind / "pages.parquet"))
    out = tmp_path / "out"
    rc = main(["--input", str(ind), "--output", str(out),
               "--run-id", "compact-e2e", "--compact"])
    assert rc == 0
    ext = spark.read.parquet(str(out / "extracted"))
    assert ext.count() == 6
    files = glob.glob(str(out / "extracted" / "part-*"))
    assert len(files) == 1  # compacted to a single file


def test_append_after_crashed_swap_recovers_old_rows(spark, tmp_path):
    """Review scenario: crash mid-swap strands the table in
    __compact_old; a subsequent APPEND must restore it first, or a
    later cleanup would delete the only copy of the old rows."""
    import os

    from document_extractor_spark.io_tables import (
        compact_table, read_table, write_table)

    root = str(tmp_path)
    df1 = spark.createDataFrame(
        [(i, "old") for i in range(4)], "doc_id long, text string")
    write_table(df1, "t", root)
    # simulate the crash window: live dir renamed away, no tmp promote
    os.rename(f"{root}/t", f"{root}/t.__compact_old")

    df2 = spark.createDataFrame(
        [(10, "new")], "doc_id long, text string")
    write_table(df2, "t", root)  # append must heal, then append
    rows = sorted((r.doc_id, r.text)
                  for r in read_table(spark, "t", root).collect())
    assert rows == [(0, "old"), (1, "old"), (2, "old"), (3, "old"),
                    (10, "new")]
    # and a later compaction keeps everything
    stats = compact_table(spark, "t", root)
    assert stats["rows"] == 5


def test_cli_compact_error_reported_not_fatal(spark, tmp_path, capsys):
    """A compaction failure after a committed run must not turn the
    run into a failure: the summary still prints, with the error."""
    import json

    from document_extractor_spark import cli as cli_mod

    class _Args:
        output = "s3://bucket/tables"
        compact_target_bytes = 1
    stats = cli_mod._compact_outputs(spark, _Args)
    assert "error" in stats["compact_extracted"]
    assert "driver-local" in stats["compact_extracted"]
