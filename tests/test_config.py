"""Every settable value of PipelineConfig is read somewhere: a field
(or the env var behind it) that no code path reads changes nothing,
so it may not exist."""
from __future__ import annotations

import ast
import dataclasses
import glob
import os

from document_extractor_spark.config import PipelineConfig

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_config_field_is_read_outside_config():
    paths = glob.glob(os.path.join(ROOT, "document_extractor_spark", "**",
                                   "*.py"), recursive=True)
    paths.append(os.path.join(ROOT, "__spark_entry__.py"))
    read = set()
    for p in paths:
        if os.path.basename(p) == "config.py":
            continue
        with open(p, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        read |= {n.attr for n in ast.walk(tree)
                 if isinstance(n, ast.Attribute)
                 and isinstance(n.ctx, ast.Load)}
    unread = [f.name for f in dataclasses.fields(PipelineConfig)
              if f.name not in read]
    assert not unread, unread


def _chunk_files(out_dir) -> int:
    return len(glob.glob(os.path.join(str(out_dir), "run_id=*",
                                      "chunk_id=*", "part-*")))


def test_max_combined_bytes_env_bounds_cli_chunks(spark, tmp_path,
                                                  monkeypatch):
    """env MAX_COMBINED_BYTES (the reference's knob) is the CLI's chunk
    bound: a tiny bound puts each doc in its own chunk file."""
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
    n = 4
    pq.write_table(pa.Table.from_pydict(
        {"url": [f"doc://h/{i}" for i in range(n)], "warc_ts": [None] * n,
         "html": [html] * n, "text": [None] * n, "lang": [None] * n},
        schema=schema), str(ind / "pages.parquet"))

    def export(name) -> int:
        chunks = tmp_path / f"chunks_{name}"
        assert main(["--input", str(ind), "--output",
                     str(tmp_path / f"out_{name}"), "--run-id", "r",
                     "--export-chunks", str(chunks)]) == 0
        return _chunk_files(chunks)

    monkeypatch.delenv("MAX_COMBINED_BYTES", raising=False)
    default = export("default")
    monkeypatch.setenv("MAX_COMBINED_BYTES", "1")
    tiny = export("tiny")
    assert default == 1
    assert tiny == n
