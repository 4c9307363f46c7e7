"""Sink tests: K1 dispatch, K2 JSONL envelopes, K3 markdown assembly."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def extracted(spark, pages_dir):
    from docvision_spark.pipeline.extract_job import extract_pages, read_pages

    return extract_pages(read_pages(spark, pages_dir), partitions=4).cache()


@pytest.mark.spark
def test_jsonl_sink_envelope(extracted, tmp_path):
    from docvision_spark.pipeline.writers import sink_dispatch

    path = str(tmp_path / "out.jsonl")
    assert sink_dispatch(extracted, path) == "jsonl"
    lines = []
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part, encoding="utf-8") as f:
            lines.extend(json.loads(ln) for ln in f if ln.strip())
    assert len(lines) == 300
    # ParseResult envelope parity (reference core/types.py:46-52); the
    # envelope is the one place the reference's metadata dict is built, so
    # every line's values must be its row's typed columns
    want = {r["url"]: r for r in extracted.select(
        "url", "id", "page_count", "processing_mode").collect()}
    assert len(want) == 300
    got = {}
    for row in lines:
        assert set(row) == {"id", "content", "metadata"}
        meta = row["metadata"]
        assert {"file_name", "total_pages", "parsing_mode",
                "processing_time"} <= set(meta)
        got[meta["file_name"]] = (row["id"], meta["total_pages"],
                                  meta["parsing_mode"])
    assert got == {u: (r["id"], r["page_count"], r["processing_mode"])
                   for u, r in want.items()}
    assert all(len(i) == 64 for i, _, _ in got.values())


@pytest.mark.spark
def test_markdown_sink_assembly(extracted, spark, tmp_path):
    from docvision_spark.pipeline.writers import sink_dispatch

    path = str(tmp_path / "out.md")
    assert sink_dispatch(extracted, path) == "markdown"
    got = spark.read.parquet(path)
    assert got.count() == 300
    row = got.filter(F.col("n_pages") == 1).limit(1).collect()[0]
    assert row["document_md"].startswith("<!-- page 1 -->")


@pytest.mark.spark
def test_markdown_sink_builds_rows_in_place(extracted, spark, tmp_path,
                                            monkeypatch, capsys):
    """The sink builds each document from its own pages array: a multi-page
    PDF's document_md equals the page-row regroup of assemble_pages, and
    the sink's plan over a parquet scan has no Exchange."""
    from docvision_spark.pipeline.extract_job import page_rows
    from docvision_spark.pipeline.writers import (assemble_pages,
                                                  write_markdown_parts)

    src = str(tmp_path / "extracted")
    extracted.write.parquet(src)
    written = []
    frame_cls = type(extracted)
    writer = frame_cls.write
    monkeypatch.setattr(frame_cls, "write", property(
        lambda df: written.append(df) or writer.fget(df)))
    path = str(tmp_path / "doc_md")
    write_markdown_parts(spark.read.parquet(src), path)
    monkeypatch.undo()
    written[-1].explain()
    assert "Exchange" not in capsys.readouterr().out

    multi = extracted.filter(F.col("page_count") > 1)
    want = dict(assemble_pages(page_rows(multi).select(
        "url", "page_no", "markdown")).select("url", "document_md").collect())
    assert want, "the unit corpus should hold multi-page PDFs"
    got = dict(spark.read.parquet(path)
               .join(multi.select("url"), "url")
               .select("url", "document_md").collect())
    assert got == want


@pytest.mark.spark
def test_parquet_default_sink(extracted, spark, tmp_path):
    from docvision_spark.pipeline.writers import sink_dispatch

    path = str(tmp_path / "plain_out")
    assert sink_dispatch(extracted, path) == "parquet"
    assert spark.read.parquet(path).count() == 300


@pytest.mark.spark
def test_transcription_extract_fallback(spark):
    from docvision_spark.pipeline.writers import transcription_extract

    df = spark.createDataFrame(
        [("<transcription>inner\ntext</transcription>",),
         ("  plain fallback  ",),
         ("<transcription></transcription>",)],
        "raw string",
    ).select(transcription_extract(F.col("raw")).alias("out"))
    got = [r["out"] for r in df.collect()]
    assert got[0] == "inner\ntext"
    assert got[1] == "plain fallback"
    assert got[2] == "<transcription></transcription>"  # empty body -> fallback