"""Sources: web-page table (input_hint shape) and driver test tables.

The canonical at-scale input is an Iceberg table
``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)``
(BASELINE.json input_hint). In this sandbox Iceberg jars are absent, so
``read_pages`` falls back to parquet transparently; at cluster scale pass
``fmt='iceberg'`` and a table identifier.

``synth_pages`` generates a deterministic Common-Crawl-style corpus (seeded,
reproducible byte-for-byte) used by tests and the scaling benchmark — real
English-ish sentences with known NP patterns, parenthesized asides to
exercise the length-preserving blanking (O2), duplicate sentences to
exercise the first-occurrence-offset quirk, non-ASCII chars in relation
positions to exercise the O21 scrub, and an optional skew knob (1% of urls
carry ~50x average length) for the AQE skew path (FIXTURES.md F1/F10).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

_SUBJECTS = [
    "Barack Obama", "Marie Curie", "the company", "Alan Turing", "the river",
    "Ada Lovelace", "the museum", "Albert Einstein", "the university",
    "Grace Hopper", "the committee", "Isaac Newton", "the parliament",
    "Nikola Tesla", "the orchestra",
]
_RELS = [
    "was born in", "works at", "moved to", "is the capital of",
    "wrote a letter to", "served as the director of", "founded",
    "was elected president of", "lives near", "studied at",
]
_OBJECTS = [
    "Hawaii", "Warsaw", "the laboratory", "London", "the valley",
    "the academy", "Princeton", "the institute", "Paris", "the harbor",
    "Vienna", "the riverbank",
]
_ASIDES = ["(a small town)", "((disputed))", "(b. 1867)", "(see notes)"]
_NOISE = ["Metadaten über café naïveté.", "The committee agreed.", "It rained."]


def synth_doc_for(i: int, seed: int = 42, skew: bool = False) -> str:
    """Per-doc seeded text — identical whether generated on the driver or
    inside an executor partition (distributed generation at scale)."""
    rng = random.Random(seed * 1_000_003 + i)
    mult = 50 if (skew and i % 100 == 0) else 1
    return synth_doc(rng, rng.randint(2, 6), mult)


def synth_doc(rng: random.Random, n_sent: int, skew_mult: int = 1) -> str:
    sents = []
    for _ in range(n_sent * skew_mult):
        s = rng.choice(_SUBJECTS)
        r = rng.choice(_RELS)
        o = rng.choice(_OBJECTS)
        aside = (" " + rng.choice(_ASIDES)) if rng.random() < 0.25 else ""
        sent = f"{s}{aside} {r} {o}."
        sents.append(sent)
        if rng.random() < 0.15:
            sents.append(rng.choice(_NOISE))
        if rng.random() < 0.08:
            sents.append(sent)  # duplicate sentence: first-occurrence quirk
    return " ".join(sents)


def _page_row(i: int, seed: int, skew: bool):
    base_ts = _dt.datetime(2024, 1, 1)
    text = synth_doc_for(i, seed, skew)
    url = f"https://example.org/crawl/{seed}/{i}"
    html = ("<html><body>" + text + "</body></html>").encode("utf-8")
    return (url, base_ts + _dt.timedelta(seconds=i), html, text, "en")


def synth_page_rows(n_docs: int = 500, seed: int = 42, skew: bool = False):
    return [_page_row(i, seed, skew) for i in range(n_docs)]


def synth_pages(
    spark: SparkSession,
    n_docs: int = 500,
    seed: int = 42,
    skew: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic corpus: generation happens inside executor
    partitions (per-doc seeds), never shipped from the driver — a 40k-row
    driver-side createDataFrame serializes single-threaded and dominates
    any scaling measurement."""
    import pandas as pd

    n_parts = partitions or spark.sparkContext.defaultParallelism * 2

    def gen(batches):
        for pdf in batches:
            rows = [_page_row(int(i), seed, skew) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    base = spark.range(n_docs).repartition(n_parts)
    df = base.mapInPandas(gen, schema=PAGES_SCHEMA)
    if partitions:
        # explicit repartition by url-hash — the north_rule ingest layout
        df = df.repartition(partitions, F.xxhash64("url"))
    return df


def _first_data_file(path: str) -> str | None:
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        data = sorted(f for f in files if not f.startswith(("_", ".")))
        if data:
            return os.path.join(root, data[0])
    return None


def _footer_schema(path: str) -> StructType | None:
    """The read schema of a local parquet input, from one file's footer
    read in this process, as Spark's inference reads it: the schema Spark
    recorded in the footer, or else the parquet schema converted. None
    for a non-local path, or where the conversion could differ from
    Spark's (INT96 timestamps outside a Spark-written file)."""
    if "://" in path and not path.startswith("file://"):
        return None
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    first = _first_data_file(path.removeprefix("file://"))
    if first is None:
        return None
    # an unreadable footer or a type without a conversion: inference decides
    try:
        meta = pq.read_metadata(first)
        recorded = (meta.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
        if recorded is not None:
            return StructType.fromJson(json.loads(recorded))
        if any(meta.schema.column(i).physical_type == "INT96" for i in range(meta.num_columns)):
            return None
        return from_arrow_schema(meta.schema.to_arrow_schema(), prefer_timestamp_ntz=True)
    except (OSError, ValueError, TypeError, KeyError, NotImplementedError):
        return None


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Pages at ``path`` with the input's own columns: the front end
    branches on which of ``text``/``html`` it has. A local parquet input
    is read with its footer's schema, so no schema-inference job runs."""
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path)
    if fmt in ("json", "jsonl"):
        return read_pages_jsonl(spark, path)
    schema = _footer_schema(path) if fmt == "parquet" else None
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return spark.read.format(fmt).load(path)


# JSONL sidecar schema: JSON has no binary/timestamp types, so html
# travels base64 and warc_ts as an ISO-8601 string — the conventional
# Common-Crawl-derivative interchange shape (one object per line)
_PAGES_JSONL_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", StringType()),
        StructField("html_b64", StringType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_pages_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL pages source -> the canonical ``PAGES_SCHEMA`` frame.

    One JSON object per line with ``url``, ``warc_ts`` (ISO-8601,
    ``yyyy-MM-dd'T'HH:mm:ss`` with optional fraction/offset — parsed by
    ``to_timestamp``'s default cast), optional ``html_b64`` (base64 of
    the raw bytes; JSON cannot carry binary) and optional ``text`` /
    ``lang``. The explicit read schema skips Spark's sampling inference
    pass (one full extra scan at 100 TB) and makes missing optional
    fields typed NULLs instead of schema drift; decode/parse are
    row-local column ops inside the scan stage — a JSONL corpus enters
    the exact same plan shape as the parquet/Iceberg table."""
    raw = spark.read.schema(_PAGES_JSONL_SCHEMA).json(path)
    return raw.select(
        F.col("url"),
        F.to_timestamp("warc_ts").alias("warc_ts"),
        F.unbase64(F.col("html_b64")).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def write_pages_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Inverse of :func:`read_pages_jsonl` for interchange/testing:
    encode html to base64, format warc_ts as ISO-8601."""
    df.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss").alias("warc_ts"),
        F.base64(F.col("html")).alias("html_b64"),
        "text",
        "lang",
    ).write.mode(mode).json(path)


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-provided documents table -> page-like frame with a 40-char
    zero-padded docid (text_handler.py:59)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return df.select(
        F.lpad(F.col("doc_id").cast("string"), 40, "0").alias("docid"),
        F.col("text"),
        F.col("lang"),
    )
