"""WARC-lite source: round-trip, DuckDB twin, split-invariance."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from storm_focused_crawler_spark.plans.pipeline_ops import source_warc_lite
from storm_focused_crawler_spark.sources import warc as WR
from storm_focused_crawler_spark.sources.session import scope


def test_warc_roundtrip_byte_identity(spark, sf_dir):
    """Every document's text survives render→parse byte-identically,
    with Content-Length honored."""
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]
    with scope():  # the op writes its archive to a temp dir
        got = {r["url"]: r for r in source_warc_lite(spark, sf_dir).collect()}
    assert len(got) == len(pdf)
    for row in pdf.itertuples():
        url = f"https://h{row.doc_id % 40:03d}.example-warc/d{row.doc_id}"
        r = got[url]
        assert r["payload"] == row.text
        assert r["content_length"] == len(row.text)
        assert r["warc_date"].endswith("Z")


def test_warc_matches_duckdb_twin(spark, sf_dir, tmp_path):
    """An independent DuckDB parse of the SAME archive file (read_text
    + split on the record marker + regexes) produces identical rows."""
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]
    pdf = pdf.sort_values("doc_id")
    rows = [
        (
            f"https://h{d % 40:03d}.example-warc/d{d}",
            f"2024-01-{(d % 28) + 1:02d}T12:{d % 60:02d}:00Z",
            t,
        )
        for d, t in zip(pdf["doc_id"], pdf["text"])
    ]
    path = str(tmp_path / "a.warc")
    WR.write_warc_lite(rows, path)
    got = sorted(
        map(tuple, WR.read_warc_lite(spark, path).collect())
    )
    con = duckdb.connect()
    want = sorted(
        map(
            tuple,
            con.execute(
                f"""
        WITH rec AS (
          SELECT unnest(string_split(content, 'WARC/1.0' || chr(10))) AS v
          FROM read_text('{path}')),
        nz AS (SELECT v FROM rec WHERE len(v) > 0),
        sp AS (SELECT string_split_regex(v, chr(10) || chr(10)) AS parts FROM nz)
        SELECT
          regexp_extract(parts[1], 'WARC-Target-URI: (\\S+)', 1) AS url,
          regexp_extract(parts[1], 'WARC-Date: (\\S+)', 1) AS warc_date,
          CAST(regexp_extract(parts[1], 'Content-Length: (\\d+)', 1) AS BIGINT)
            AS content_length,
          regexp_replace(array_to_string(parts[2:], chr(10) || chr(10)),
                         chr(10) || '$', '') AS payload
        FROM sp"""
            ).fetchall(),
        )
    )
    assert got == want


def test_warc_split_invariance(spark, sf_dir, tmp_path):
    """Force the file to split into many input partitions: records
    straddling split boundaries must parse identically (the 100 TB
    credibility property of the lineSep read)."""
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]
    pdf = pdf.sort_values("doc_id")
    rows = [
        (f"https://w/d{d}", "2024-01-01T00:00:00Z", t)
        for d, t in zip(pdf["doc_id"], pdf["text"])
    ]
    path = str(tmp_path / "b.warc")
    WR.write_warc_lite(rows, path)
    whole = sorted(map(tuple, WR.read_warc_lite(spark, path).collect()))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        df = WR.read_warc_lite(spark, path)
        assert df.rdd.getNumPartitions() > 4, "file did not split"
        split = sorted(map(tuple, df.collect()))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert split == whole
